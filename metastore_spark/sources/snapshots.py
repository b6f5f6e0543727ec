"""Snapshot-isolated table format with time travel (Delta/Iceberg shape).

Every commit writes IMMUTABLE parquet data files plus metadata in two
tiers (Iceberg's manifest-list shape, re-expressed for one shared FS):

- ``meta/s-<uuid>.json`` — an immutable SEGMENT: a bounded list of
  data-file paths. Segments are shared across versions by reference
  and never rewritten.
- ``meta/v<N>.json``     — the COMMIT file: the ordered list of
  segment names (plus op/schema/lineage). Its creation IS the commit:
  it is created with exclusive-create semantics (hard link of a
  staged temp file — fails if vN already exists), so exactly one
  writer can ever own version N.

Readers resolve head -> commit file -> segments -> file list, so they
always see a complete snapshot — never a half-written commit — and
any retained historical version stays readable (time travel).

Why two tiers: with a single-JSON design every commit would rewrite
the full O(table files) list — the commit bottleneck at
100 TB (millions of files). Now an append writes ONE new segment
(O(delta files)) plus a commit file that is O(#segments), independent
of the table's file count; a COW delete rewrites only the segments
that reference affected files and carries every untouched segment by
name. Segment count is bounded operationally by `compact` (which
folds to one segment) exactly as Iceberg rewrites manifests.

Design parallels (public formats):
- Delta Lake: the _delta_log/<N>.json put-if-absent IS the optimistic
  commit; a loser re-reads the head and retries at N+1.
- Iceberg v1: manifest list -> manifests -> data files; copy-on-write
  deletes rewrite only AFFECTED manifests/files.
- The repo's own streaming stores (streaming/ivf.py manifest cutover,
  serve.py winner-keeps rename) establish the crash-safety idiom;
  this module adds multi-version retention + optimistic concurrency.

One commit path: every commit op builds its manifest metadata with
`_inherit` (schema and column-ID lineage, the stats/bloom opt-ins, the
partition and cluster specs and the delete lists a commit carries
from its parent; an op that drops one names it) and the segment of the
files it writes with `_new_segment` (one footer open per new file for
rows, stats and column names, plus the bloom column reads; a write
without rows adds no segment). The copy-on-write ops are one kernel,
`_rewrite_matching`, and pass it only a match and the rows to insert:
delete-where a predicate (`_where`), delete-keys a key frame
(`_keyed`), overwrite-where a predicate and its replacement rows,
merge the source's keys and the source. Commits of already-written
files (the DataSource writers, `snapshot_sink`) stage their segment
once and retry the link on the new head through
`_commit_segments_with_retry`.

Crash contract: a crash before the commit-file link leaves orphan
data files and/or orphan segment JSONs only (age-gated `vacuum`
reclaims them); a crash after it is a completed commit. There is no
intermediate state — single-phase commit was chosen precisely because
a staged-manifest two-phase variant lets a losing racer clobber the
winner's same-numbered manifest.

Conflict rules (optimistic concurrency, Delta/Iceberg shape):
- append vs append: loser retries on the new head, nothing lost;
- compact vs delete/compact: a base file REMOVED from the head
  invalidates the rewrite (it would resurrect deleted rows) — the
  compactor aborts with ConcurrentCommit;
- `commit_with_retry` packages the re-read/retry loop with bounded
  exponential backoff for arbitrary commit callables.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import time
import uuid
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StringType, StructType

_META = "meta"
_DATA = "data"
# a data dir / segment JSON this stale with no manifest referencing it
# belongs to a crashed commit; GC may reclaim it (serve.py idiom)
_ORPHAN_AGE_SEC = 86400


class ConcurrentCommit(RuntimeError):
    """Another writer committed this version first; re-read the head
    and retry the commit against the new parent."""


class SchemaEvolutionError(ValueError):
    """Rejected schema change. APPENDS may only ADD columns — a
    dropped/retyped column arriving via append is almost always an
    upstream bug, not an intentional migration. Intentional evolution
    goes through the explicit metadata-only ops (`rename_column`,
    `drop_column`, `widen_column`), which keep historical files
    readable via column-ID mapping."""


class RetentionExpired(RuntimeError):
    """A changelog window fell behind the retention horizon: the
    manifests `read_appends` needs were deleted by
    `expire_snapshots`, so the requested slice can no longer be
    reconstructed (Delta CDF raises the same typed error). The
    message names the oldest readable checkpoint — the consumer must
    reseed from a snapshot read at or after it."""


def _meta_dir(root: str) -> str:
    return os.path.join(root, _META)


# Ref names share one restricted alphabet so branch-manifest filenames
# (r-<name>.v<N>.json) and tag files (t-<name>.json) parse without
# ambiguity; "main" is the implicit trunk every existing API targets.
_REF_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_-]*$")
_BRANCH_FILE_RE = re.compile(r"^r-([A-Za-z0-9_-]+)\.v(\d+)\.json$")


def _check_ref_name(name: str) -> None:
    if (
        name == "main"
        or name.isdigit()  # would be ambiguous with version numbers
        or not _REF_NAME_RE.match(name)
    ):
        raise ValueError(
            f"invalid ref name {name!r}: use [A-Za-z0-9_-]+ with at "
            "least one non-digit, not 'main'"
        )


def _manifest_path(root: str, version: int, ref: str = "main") -> str:
    if ref == "main":
        return os.path.join(_meta_dir(root), f"v{version}.json")
    return os.path.join(_meta_dir(root), f"r-{ref}.v{version}.json")


def _tag_path(root: str, name: str) -> str:
    return os.path.join(_meta_dir(root), f"t-{name}.json")


def create_table(root: str) -> None:
    os.makedirs(_meta_dir(root), exist_ok=True)
    os.makedirs(os.path.join(root, _DATA), exist_ok=True)


def current_version(root: str, ref: str = "main") -> int:
    """Head of ``ref`` = highest committed manifest in the ref's own
    namespace; 0 = empty table (or no such branch).

    A meta-dir scan, not a pointer file: manifest creation is atomic
    (exclusive link), so the listing can never observe a torn commit,
    and there is no pointer to crash between states. O(#versions) —
    bounded by retention. Branch manifests live as
    ``r-<name>.v<N>.json`` in their OWN linear number space, so the
    trunk's head never moves when a branch commits and vice versa."""
    try:
        names = os.listdir(_meta_dir(root))
    except OSError:
        return 0
    if ref == "main":
        versions = [
            int(n[1:-5])
            for n in names
            if n.startswith("v")
            and n.endswith(".json")
            and n[1:-5].isdigit()
        ]
    else:
        prefix = f"r-{ref}.v"
        versions = [
            int(n[len(prefix):-5])
            for n in names
            if n.startswith(prefix)
            and n.endswith(".json")
            and n[len(prefix):-5].isdigit()
        ]
    return max(versions, default=0)


def read_manifest(root: str, version: int, ref: str = "main") -> dict:
    with open(_manifest_path(root, version, ref)) as fh:
        return json.load(fh)


def _segment_path(root: str, name: str) -> str:
    return os.path.join(_meta_dir(root), f"{name}.json")


def _write_segment(root: str, files: list[str], meta: dict) -> str:
    """Persist an immutable segment and return its name: the file list
    plus ``meta`` — per-file ``stats`` (column min/max), ``partitions``
    (partition tuples), ``blooms`` and ``rows`` maps, and the files'
    write-time ``columns`` {name: {id, type}} for column-ID schema
    evolution; empty entries are omitted. Written BEFORE the commit
    file that references it — a crash in between leaves an orphan
    JSON for `vacuum`, never a torn read. Its two callers are
    `_new_segment` (newly written files) and `_segments_after_removal`
    (the copy-on-write kernel's kept files, metadata carried)."""
    name = f"s-{uuid.uuid4().hex[:16]}"
    seg = {"files": sorted(files), **{k: v for k, v in meta.items() if v}}
    with open(_segment_path(root, name), "w") as fh:
        json.dump(seg, fh)
    return name


# per-file maps of a segment JSON ({file: value}); `columns` is per segment
_FILE_KEYS = ("stats", "partitions", "blooms", "rows")


def _new_segment(root: str, files: list[str], extra: dict) -> list[str]:
    """The segment of just-written ``files`` under a commit's manifest
    ``extra`` (built by `_inherit`), as a list of zero or one names.
    Each file's footer is opened ONCE for its row count (the Iceberg
    manifest-entry ``record_count``, which powers metadata-only row
    accounting), the min/max of ``stats_cols`` and its column names;
    ``bloom_cols`` cost one column read per file. Partition tuples come
    from the ``partition_spec`` path components, the write-time column
    mapping from the committed schema's IDs. A file whose footer is
    unreadable gets no entries (readers see null rows and never skip
    it). A file that holds no rows is left out (Spark's first write
    task leaves one even for an empty frame), and a write without rows
    gives no segment."""
    import pyarrow.parquet as pq

    scols = extra.get("stats_cols") or []
    bcols = extra.get("bloom_cols") or []
    listed: list[str] = []
    rows: dict[str, int] = {}
    stats: dict[str, dict] = {}
    blooms: dict[str, dict] = {}
    for f in files:
        try:
            pf = pq.ParquetFile(os.path.join(root, f))
        except Exception:
            listed.append(f)
            continue
        if not pf.metadata.num_rows:
            continue
        listed.append(f)
        rows[f] = int(pf.metadata.num_rows)
        if scols and (fstats := _file_stats(pf.metadata, scols)):
            stats[f] = fstats
        if bcols and (fblooms := _file_blooms(pf, bcols)):
            blooms[f] = fblooms
    if not listed:
        return []
    fields = extra.get("schema", {}).get("fields", [])
    return [
        _write_segment(
            root,
            listed,
            {
                "stats": stats,
                "partitions": _spec_partitions(
                    listed, extra.get("partition_spec") or []
                ),
                "columns": _columns_meta(fields, extra.get("column_ids")),
                "blooms": blooms,
                "rows": rows,
            },
        )
    ]


def _bloom_key(v) -> bytes:
    """Canonical bytes for a bloom-hashed value — must agree between
    build (pyarrow scalars) and probe (driver-side Python values).
    Integers normalize through int(), strings through utf-8, bytes
    pass through; floats are rejected (equality probes on floats are
    a modeling error, not a skipping problem)."""
    if isinstance(v, bool) or v is None:
        raise TypeError("bloom columns must be int/str/bytes valued")
    if isinstance(v, int):
        return str(v).encode()
    if isinstance(v, str):
        return v.encode()
    if isinstance(v, bytes):
        return v
    import numpy as np

    if isinstance(v, np.integer):
        return str(int(v)).encode()
    raise TypeError(f"unsupported bloom value type {type(v).__name__}")


def _bloom_hashes(key: bytes, m: int, k: int):
    import hashlib

    d = hashlib.blake2b(key, digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_build(values, m: int | None = None, k: int = 7) -> dict:
    """Build a bloom over distinct values: ~10 bits per distinct
    (fpp ~1%), m capped at 2^20 bits (128 KB) — the Iceberg/Delta
    bloom-skipping shape, stored inline in segment JSON (a table at
    side-file scale would move these to puffin-style companions)."""
    import base64

    vals = {(_bloom_key(v)) for v in values if v is not None}
    n = max(1, len(vals))
    if m is None:
        m = 1024
        while m < 10 * n and m < (1 << 20):
            m <<= 1
    bits = bytearray(m // 8)
    for key in vals:
        for h in _bloom_hashes(key, m, k):
            bits[h >> 3] |= 1 << (h & 7)
    return {
        "m": m,
        "k": k,
        "bits": base64.b64encode(bytes(bits)).decode(),
    }


def _bloom_test(bloom: dict, v) -> bool:
    """True = possibly present; False = PROVEN absent."""
    import base64

    try:
        key = _bloom_key(v)
    except TypeError:
        return True  # unprobeable type: never skip
    bits = base64.b64decode(bloom["bits"])
    for h in _bloom_hashes(key, int(bloom["m"]), int(bloom["k"])):
        if not bits[h >> 3] & (1 << (h & 7)):
            return False
    return True


def _file_blooms(pf, cols: list[str]) -> dict:
    """One file's bloom filters over ``cols`` (one arrow column read —
    O(delta) at commit, like stats collection): equality probes
    (`prune={col: [values]}`) can then skip files whose min/max range
    COVERS a scattered key that is not actually present — the
    point-lookup/GDPR-erasure gap range stats cannot close."""
    import pyarrow.compute as pc

    names = set(pf.schema_arrow.names)
    want = [c for c in cols if c in names]
    if not want:
        return {}
    tbl = pf.read(columns=want)
    out = {}
    for c in want:
        try:
            out[c] = _bloom_build(pc.unique(tbl[c]).to_pylist())
        except TypeError:
            continue  # unsupported type: no bloom, never skipped
    return out


def _spec_partitions(files: list[str], spec: list[str]) -> dict | None:
    """Per-file partition tuples for a just-written file list (parsed
    once at commit time, served from metadata forever after)."""
    if not spec:
        return None
    out = {}
    for f in files:
        vals = _partition_values(f, spec)
        if vals is not None:
            out[f] = vals
    return out or None


def _file_stats(md, cols: list[str]) -> dict:
    """One file's [min, max] of ``cols`` lifted from its PARQUET
    FOOTER (no data scan): the Iceberg manifest-stats idea, giving
    readers file skipping WITHOUT opening data files. A column whose
    footer lacks stats in some row group gets no entry (that file is
    never skipped on it)."""
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict[str, list] = {}
    for col in cols:
        if col not in idx:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if ok and lo is not None:
            out[col] = [lo, hi]
    return out


def _read_segment_obj(root: str, name: str) -> dict:
    with open(_segment_path(root, name)) as fh:
        return json.load(fh)


def _read_segment(root: str, name: str) -> list[str]:
    return _read_segment_obj(root, name)["files"]


def manifest_files(root: str, manifest: dict) -> list[str]:
    """Resolve a commit file to its full data-file list: its segments'
    files, concatenated in order."""
    out: list[str] = []
    for seg in manifest["segments"]:
        out.extend(_read_segment(root, seg))
    return out


def files_of(root: str, version: int) -> list[str]:
    """Convenience: the data-file list of ``version`` (tests/audit)."""
    return manifest_files(root, read_manifest(root, version))


def _write_data_files(
    spark_df: DataFrame, root: str, partition_by: list[str] | None = None
) -> list[str]:
    """Write a new immutable data dir, return table-relative file paths.

    Files are fully on disk before any manifest can reference them —
    a crash after this point leaves an orphan dir, never a torn read.

    With ``partition_by``, files land hive-laid-out under
    ``_p_<col>=<value>/`` dirs — MIRROR columns, so the partition
    columns themselves stay in the data files (readers resolve exact
    file lists, not directories, so path-only values would vanish;
    Iceberg keeps identity-partition source columns in data files for
    the same reason). Each file then holds exactly the rows of one
    partition tuple, recorded in segment metadata by the caller.
    """
    dirname = f"{_DATA}/{uuid.uuid4().hex[:12]}"
    out = os.path.join(root, dirname)
    if partition_by:
        mirrors = [f"_p_{c}" for c in partition_by]
        df = spark_df
        for c, m in zip(partition_by, mirrors):
            df = df.withColumn(m, F.col(c))
        df.write.partitionBy(*mirrors).parquet(out)
    else:
        spark_df.write.parquet(out)
    files = []
    for base, _dirs, names in os.walk(out):
        rel = os.path.relpath(base, root)
        files.extend(
            f"{rel}/{n}" for n in names if n.endswith(".parquet")
        )
    return sorted(files)


def _partition_values(path: str, spec: list[str]) -> dict[str, str] | None:
    """Parse a file's partition tuple from its ``_p_<col>=<value>``
    path components (hive-unescaped). None when any component is
    missing or holds the hive null marker — such files are never
    partition-pruned."""
    from urllib.parse import unquote

    found: dict[str, str] = {}
    for comp in path.split("/"):
        if comp.startswith("_p_") and "=" in comp:
            k, _, v = comp.partition("=")
            found[k[3:]] = unquote(v)
    out: dict[str, str] = {}
    for col in spec:
        v = found.get(col)
        if v is None or v == "__HIVE_DEFAULT_PARTITION__":
            return None
        out[col] = v
    return out


def _manifest_ts_us(m: dict) -> int:
    """A manifest's commit time in epoch microseconds."""
    return int(m["ts_us"])


def _commit(
    root: str,
    parent: int,
    op: str,
    segments: list[str],
    extra: dict | None = None,
    ref: str = "main",
) -> int:
    """Single-phase optimistic commit: creating ``meta/v<N>.json`` IS
    the commit. The staged temp file is HARD-LINKED to the manifest
    name — link(2) fails with EEXIST if vN exists, so exactly one
    writer ever owns a version; a loser raises ConcurrentCommit with
    the winner's manifest untouched (Delta's log put-if-absent,
    expressed in POSIX). Payload: O(#segments) names, never the data
    file list. A non-main ``ref`` commits into that branch's own
    namespace under the SAME protocol — version = parent + 1 within
    the branch, so branch writers serialize against each other and
    never against the trunk."""
    version = parent + 1
    # Commit time in MICROSECONDS, forced strictly increasing along
    # the chain (Delta bumps a regressed commit clock the same way):
    # `TIMESTAMP AS OF` resolution needs a total order even when two
    # commits land within one wall-clock second or NTP steps back.
    now_us = int(time.time() * 1_000_000)
    if parent:
        try:
            parent_us = _manifest_ts_us(read_manifest(root, parent, ref))
            if now_us <= parent_us:
                now_us = parent_us + 1
        except OSError:
            pass  # parent expired mid-flight; wall clock stands
    manifest = {
        "version": version,
        "parent": parent,
        "op": op,
        "ts": now_us // 1_000_000,
        "ts_us": now_us,
        "segments": segments,
        **({"ref": ref} if ref != "main" else {}),
        **(extra or {}),
    }
    path = _manifest_path(root, version, ref)
    tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise ConcurrentCommit(
            f"v{version} was committed by another writer; retry on the "
            "new head"
        ) from None
    finally:
        os.unlink(tmp)
    return version


def _fields(df: DataFrame) -> list[dict]:
    """A frame's schema as schema-JSON fields."""
    return json.loads(df.schema.json())["fields"]


def _inherit(
    parent: dict,
    fields: list[dict] | None = None,
    clear: tuple[str, ...] = (),
    **own,
) -> dict:
    """THE rule for a commit's manifest ``extra``: what it inherits from
    ``parent`` (the manifest whose row set it carries forward — the
    head, or the rollback/fork/publish source) given its own values.

    - ``schema``: ``fields`` (default: the parent's). Column-ID
      lineage: the parent's ``column_ids`` propagate and new columns
      get fresh IDs; ``next_column_id`` is the max of the parent's and
      an ``own`` one (the destination chain's head, so a retired ID is
      never re-minted). Tables that never evolved carry no IDs.
    - ``stats_cols`` / ``bloom_cols``: the caller's columns plus the
      inherited ones — once set, an opt-in never silently lapses.
    - ``partition_spec`` / ``cluster_spec``: the caller's, else the
      inherited one.
    - ``delete_files`` / ``eq_delete_files``: the inherited entries
      plus the caller's new ones — a commit carrying its parent's rows
      must carry their deletes, or merge-on-read deleted rows
      resurrect.

    An op that drops an inherited key on purpose names it in
    ``clear`` (compaction folds the deletes in; a full overwrite also
    drops the cluster spec). Every other ``own`` key belongs to the
    op alone (``sort_spec``, ``rolled_back_to``, ``stream_id``, ...)
    and is recorded when not None."""
    if fields is None:
        fields = parent["schema"]["fields"]
    extra: dict = {"schema": {"type": "struct", "fields": fields}}
    nxt = int(own.pop("next_column_id", None) or 0)
    if parent.get("column_ids"):
        ids = dict(parent["column_ids"])
        nxt = max(
            nxt,
            int(
                parent.get("next_column_id")
                or max(ids.values(), default=0) + 1
            ),
        )
        for f in fields:
            if f["name"] not in ids:
                ids[f["name"]] = nxt
                nxt += 1
        extra["column_ids"] = ids
        if parent.get("legacy_columns"):
            extra["legacy_columns"] = parent["legacy_columns"]
    if nxt:
        extra["next_column_id"] = nxt
    for key in ("stats_cols", "bloom_cols"):
        cols = list(own.pop(key, None) or [])
        cols += [c for c in parent.get(key) or [] if c not in cols]
        extra[key] = cols
    for key in ("partition_spec", "cluster_spec"):
        extra[key] = own.pop(key, None) or parent.get(key)
    for key in ("delete_files", "eq_delete_files"):
        extra[key] = list(parent.get(key) or []) + list(
            own.pop(key, None) or []
        )
    for key in clear:
        extra[key] = None
    extra = {k: v for k, v in extra.items() if v}
    extra.update({k: v for k, v in own.items() if v is not None})
    return extra


# Inherited keys that name columns: (key, the fields of its value that
# do — None when the value is itself a name list —, whether a drop is
# refused). A rename follows into every one. The opt-in lists forget a
# dropped column; the layout specs refuse it, since their files were
# laid out by its values.
_NAME_BOUND = (
    ("stats_cols", None, False),
    ("bloom_cols", None, False),
    ("partition_spec", None, True),
    ("cluster_spec", ("cols", "cell_col"), True),
)


def _rebind(m: dict, moved: dict[str, str | None]) -> dict:
    """The name-bound keys of manifest ``m`` with ``moved`` applied
    (old name -> new name, or None for a dropped column)."""

    def move(key: str, refuse_drop: bool, names: list[str]) -> list[str]:
        gone = [c for c in names if c in moved and moved[c] is None]
        if gone and refuse_drop:
            raise SchemaEvolutionError(
                f"column(s) {gone} are in the table's {key}; evolve the "
                "spec before dropping them"
            )
        return [moved.get(c, c) for c in names if c not in gone]

    out = {}
    for key, fields, refuse_drop in _NAME_BOUND:
        val = m.get(key)
        if not val:
            continue
        if fields is None:
            out[key] = move(key, refuse_drop, val)
            continue
        out[key] = dict(val)
        for f in fields:
            one = isinstance(val[f], str)
            names = move(key, refuse_drop, [val[f]] if one else val[f])
            out[key][f] = names[0] if one else names
    return out


# ---- column-ID schema evolution ------------------------------------
#
# Iceberg's idea, expressed in manifest JSON: every column gets a
# table-unique ID at its first appearance; rename/drop/widen are
# METADATA-ONLY commits (op="evolve") that rewrite the head schema
# and the name->ID mapping while carrying every segment by name. Data
# files keep their write-time column names forever; readers resolve
# each file's columns BY ID through per-segment ``columns`` metadata
# ({write-time name: {id, type}}), so a renamed column reads from old
# files under its old name, a widened column casts up from its old
# physical type, and a dropped-then-readded name can never capture an
# old file's bytes (the old name maps to the retired ID, not the new
# one). Pre-ID segments resolve through ``legacy_columns`` — the
# name->ID snapshot taken when IDs were first assigned; add-only
# evolution was enforced until that moment, so every older file's
# columns are a subset of that snapshot.

_WIDENINGS = {
    ("integer", "long"),
    ("integer", "double"),
    ("float", "double"),
}


def _columns_meta(fields: list[dict], ids: dict | None) -> dict | None:
    """Per-segment ``columns`` metadata ({name: {id, type}}) for files
    about to be written under the current schema; None pre-IDs."""
    if not ids:
        return None
    return {
        f["name"]: {"id": ids[f["name"]], "type": f["type"]}
        for f in fields
        if f["name"] in ids
    }


def _evolve(root: str, transform) -> int:
    """Shared metadata-only evolution commit: ``transform(schema,
    ids)`` mutates-and-returns both plus the columns it moved
    ({old: new, or None when dropped}), which `_rebind` applies to
    every name-bound key; segments carry by name, so the commit is
    O(#segments) regardless of table size."""
    head = current_version(root)
    if not head:
        raise ValueError("cannot evolve an empty table")
    m = read_manifest(root, head)
    schema = json.loads(json.dumps(m["schema"]))
    ids = dict(m.get("column_ids") or {})
    nxt = m.get("next_column_id")
    legacy = m.get("legacy_columns")
    if not ids:
        # first evolution on this table: mint IDs for the current
        # schema and snapshot it as the legacy-file mapping
        nxt = 1
        for f in schema["fields"]:
            ids[f["name"]] = nxt
            nxt += 1
        legacy = {
            f["name"]: {"id": ids[f["name"]], "type": f["type"]}
            for f in schema["fields"]
        }
    schema, ids, moved = transform(schema, ids)
    # live equality-delete key files bind column NAMES at their
    # commit time — renaming or dropping a referenced key column
    # would silently detach the delete from its rows
    eq_cols = {
        c
        for e in (m.get("eq_delete_files") or [])
        for c in e["cols"]
    }
    if eq_cols:
        new_names = {f["name"] for f in schema["fields"]}
        broken = sorted(eq_cols - new_names)
        if broken:
            raise SchemaEvolutionError(
                f"column(s) {broken} are referenced by live "
                "equality-delete key files; compact the table to fold "
                "the deletes before renaming or dropping them"
            )
        # widening a referenced key column is ALLOWED (unlike rename/
        # drop): the key parquet keeps its narrow write-time type and
        # every reader coerces it up before the anti-join — the JVM
        # path via Spark's implicit cast, the pyarrow DataSource path
        # via an explicit cast in spark_source._arrow_read (all legal
        # widenings are lossless, so equality is preserved).
    # the evolved head is what the commit inherits from
    evolved = dict(
        m,
        schema=schema,
        column_ids=ids,
        next_column_id=int(nxt),
        legacy_columns=legacy,
        **_rebind(m, moved),
    )
    segs = list(m["segments"])
    return _commit(root, head, "evolve", segs, _inherit(evolved))


def rename_column(root: str, old: str, new: str) -> int:
    """Rename ``old`` to ``new`` (metadata-only). Old files keep the
    old physical name; readers resolve them through the column's ID.
    Every name-bound key (`_NAME_BOUND`) follows the rename."""

    def transform(schema, ids):
        names = [f["name"] for f in schema["fields"]]
        if old not in names:
            raise SchemaEvolutionError(f"no column {old!r} to rename")
        if new in names:
            raise SchemaEvolutionError(f"column {new!r} already exists")
        for f in schema["fields"]:
            if f["name"] == old:
                f["name"] = new
        ids[new] = ids.pop(old)
        return schema, ids, {old: new}

    return _evolve(root, transform)


def drop_column(root: str, name: str) -> int:
    """Drop ``name`` (metadata-only; the bytes stay in old files but
    no reader resolves them — retention GC reclaims rewrites). The ID
    retires permanently: a later add of the same name gets a FRESH ID,
    so old files' bytes can never leak into the new column. The stats
    and bloom opt-ins forget it; partition and cluster columns must be
    un-spec'd first (their values are baked into the data layout)."""

    def transform(schema, ids):
        names = [f["name"] for f in schema["fields"]]
        if name not in names:
            raise SchemaEvolutionError(f"no column {name!r} to drop")
        if len(names) == 1:
            raise SchemaEvolutionError("cannot drop the only column")
        schema["fields"] = [
            f for f in schema["fields"] if f["name"] != name
        ]
        ids.pop(name, None)
        return schema, ids, {name: None}

    return _evolve(root, transform)


def widen_column(root: str, name: str, new_type: str) -> int:
    """Widen ``name``'s primitive type (int->long, int->double,
    float->double — the value-preserving promotions; metadata-only).
    Old files keep the narrow physical type; readers cast up, so
    every historical value round-trips exactly."""

    def transform(schema, ids):
        for f in schema["fields"]:
            if f["name"] == name:
                if (f["type"], new_type) not in _WIDENINGS:
                    raise SchemaEvolutionError(
                        f"cannot widen {name!r} {f['type']!r} -> "
                        f"{new_type!r}; allowed: {sorted(_WIDENINGS)}"
                    )
                f["type"] = new_type
                return schema, ids, {}
        raise SchemaEvolutionError(f"no column {name!r} to widen")

    return _evolve(root, transform)


def _check_add_only(parent_manifest: dict, df: DataFrame) -> None:
    """Add-only schema evolution: every parent column must survive
    with its type. New columns are fine — the stored snapshot schema
    null-fills them when reading older files."""
    _check_add_only_fields(parent_manifest, _fields(df))


def _check_add_only_fields(
    parent_manifest: dict, fields: list[dict]
) -> None:
    """`_check_add_only` against schema-JSON fields directly — the
    file-based commit paths (Python DataSource writer) have a schema
    dict, not a DataFrame."""
    ps = parent_manifest.get("schema")
    if not ps:
        return
    new = {f["name"]: f["type"] for f in fields}
    for field in ps["fields"]:
        name = field["name"]
        if name not in new:
            raise SchemaEvolutionError(f"append drops column {name!r}")
        if new[name] != field["type"]:
            raise SchemaEvolutionError(
                f"column {name!r} changed type {field['type']!r} -> "
                f"{new[name]!r}"
            )


def _coerce_partition_value(raw: str, like):
    """A path-parsed partition value, coerced to the prune bound's
    type; None (never prune) when the coercion fails. Mirrors every
    type _typed_literal can produce as a bound — date / datetime /
    Decimal bounds on identity partitions would otherwise hit a
    str-vs-date comparison in _bound_excludes at plan time."""
    import datetime
    from decimal import Decimal, InvalidOperation

    try:
        if isinstance(like, bool):
            return raw.lower() == "true"
        if isinstance(like, int):
            return int(raw)
        if isinstance(like, float):
            return float(raw)
        if isinstance(like, datetime.datetime):
            return datetime.datetime.fromisoformat(raw)
        if isinstance(like, datetime.date):
            return datetime.date.fromisoformat(raw)
        if isinstance(like, Decimal):
            return Decimal(raw)
        return raw
    except (TypeError, ValueError, InvalidOperation):
        return None


def _bound_excludes(fmin, fmax, bound) -> bool:
    """True when stats interval [fmin, fmax] provably cannot satisfy
    ``bound`` — a (lo, hi) range (either end None for open) or a
    list/set of admissible values."""
    if isinstance(bound, (list, set, tuple)) and not (
        isinstance(bound, tuple) and len(bound) == 2
    ):
        return not any(fmin <= v <= fmax for v in bound)
    lo, hi = bound
    return (hi is not None and fmin > hi) or (lo is not None and fmax < lo)


def pruned_manifest_files(
    root: str, manifest: dict, prune: dict | None
) -> list[str]:
    """The manifest's file list after metadata skipping. ``prune``
    maps column -> (lo, hi) range (either bound None for open) or a
    LIST of admissible values (partition-set pruning — the shape a
    Z-order cell decomposition or an IN-list produces; note a 2-list
    is a value set, a 2-tuple is a range). A file is skipped only
    when metadata proves no value can match:

    - a recorded PARTITION VALUE (identity partition spec — the file
      holds exactly one value of the column) decides exactly;
    - otherwise recorded min/max stats decide conservatively (NULLs
      never match a range predicate, so all-null or stats-less files
      are KEPT — the caller's own filter handles them).

    This is manifest-level pruning: skipped files are never listed
    into the plan, opened, or footer-read — the scan cost of a
    clustered-predicate query is O(matching files), not O(table
    files), exactly like Iceberg partition + manifest stats / Delta
    data skipping. Safe only as an optimization UNDER the equivalent
    row filter, like partition pruning."""
    return [f for f, _cols, _eq in plan_scan(root, manifest, prune).files]


def _segment_file_mapping(
    manifest: dict, seg_obj: dict
) -> dict | None:
    """The write-time {name: {id, type}} mapping governing a segment's
    files, or None when the table has no column IDs (fast path).
    Segments written before IDs existed resolve through the
    ``legacy_columns`` snapshot, augmented with current fields whose
    names the snapshot doesn't know — those can only be columns added
    AFTER the snapshot under their current name (add-only was enforced
    pre-IDs; dropped-then-readded names are in the snapshot and keep
    their retired ID, so old bytes can't leak)."""
    ids = manifest.get("column_ids")
    if not ids:
        return None
    cols = seg_obj.get("columns")
    if cols:
        return cols
    mapping = dict(manifest.get("legacy_columns") or {})
    covered = {v["id"] for v in mapping.values()}
    for f in manifest["schema"]["fields"]:
        if (
            f["name"] not in mapping
            and f["name"] in ids
            and ids[f["name"]] not in covered  # renamed IDs resolve
            # through their legacy (write-time) name, never the new one
        ):
            mapping[f["name"]] = {
                "id": ids[f["name"]],
                "type": f["type"],
            }
    return mapping


class ScanPlan(NamedTuple):
    """What a reader of one snapshot needs, resolved from metadata.

    ``files``: per surviving data file, (table-relative path, its
    write-time column mapping or None — see `_segment_file_mapping` —,
    the indices into ``eq_deletes`` of the equality-delete entries
    whose scope covers the file). ``pos_deletes``: the snapshot's
    position-delete files. ``eq_deletes``: its equality-delete entries
    as (key file paths, key columns)."""

    files: list[tuple[str, dict | None, tuple[int, ...]]]
    pos_deletes: list[str]
    eq_deletes: list[tuple[list[str], list[str]]]


def plan_scan(
    root: str,
    manifest: dict,
    prune: dict | None = None,
    only_files: set[str] | None = None,
) -> ScanPlan:
    """The one scan planner both readers (`read_snapshot` and the
    ``format("snapshot")`` DataSource) consume: the manifest's files
    after metadata skipping (see `pruned_manifest_files` for the
    ``prune`` contract), restricted to ``only_files`` when given, each
    with its write-time column mapping and covering equality-delete
    entries. Reads each segment JSON at most once per call — the
    eq-delete scopes reuse the data segments' reads — and opens no
    data file.

    Prune bounds arrive keyed by CURRENT column names; per segment
    they translate through the column-ID mapping to the files'
    write-time names, so stats and partition tuples recorded before a
    rename keep pruning after it."""
    segs: dict[str, dict] = {}

    def seg(name: str) -> dict:
        if name not in segs:
            segs[name] = _read_segment_obj(root, name)
        return segs[name]

    kept: list[tuple[str, dict | None]] = []
    for name in manifest["segments"]:
        obj = seg(name)
        mapping = _segment_file_mapping(manifest, obj)
        kept.extend(
            (f, mapping)
            for f in _segment_survivors(manifest, obj, mapping, prune)
            if only_files is None or f in only_files
        )
    eq = manifest.get("eq_delete_files") or []
    scopes = [
        {f for s in e["scope_segments"] for f in seg(s)["files"]}
        for e in eq
    ]
    return ScanPlan(
        [
            (f, mapping, tuple(i for i, sc in enumerate(scopes) if f in sc))
            for f, mapping in kept
        ],
        list(manifest.get("delete_files") or []),
        [(list(e["files"]), list(e["cols"])) for e in eq],
    )


def _segment_survivors(
    manifest: dict, obj: dict, mapping: dict | None, prune: dict | None
) -> list[str]:
    """The files of one segment that its recorded partition tuples,
    min/max stats and blooms cannot exclude under ``prune``."""
    ids = manifest.get("column_ids") or {}
    seg_prune = prune
    if prune and mapping and ids:
        by_id = {v["id"]: n for n, v in mapping.items()}
        seg_prune = {}
        for col, bound in prune.items():
            fname = by_id.get(ids.get(col), None)
            if fname is not None:
                seg_prune[fname] = bound
            # a prune column the segment never wrote: its files
            # predate the column — all-null, never match a range,
            # but stats-less conservatism keeps them (caller's
            # row filter decides); matches the un-evolved rule
    if not seg_prune:
        return obj["files"]
    stats = obj.get("stats", {})
    parts = obj.get("partitions", {})
    blooms = obj.get("blooms", {})
    out = []
    for f in obj["files"]:
        keep = True
        fstats = stats.get(f, {})
        fparts = parts.get(f, {})
        fblooms = blooms.get(f, {})
        for col, bound in seg_prune.items():
            if isinstance(bound, (list, set)) and not bound:
                keep = False  # empty admissible set matches nothing
                break
            if col in fparts:
                like = (
                    next(iter(bound))
                    if isinstance(bound, (list, set))
                    else next(
                        (b for b in bound if b is not None), None
                    )
                )
                v = _coerce_partition_value(fparts[col], like)
                if v is not None and _bound_excludes(v, v, bound):
                    keep = False
                    break
                continue
            if col in fstats:
                fmin, fmax = fstats[col]
                if _bound_excludes(fmin, fmax, bound):
                    keep = False
                    break
            # bloom skipping: an equality probe (value set) whose
            # EVERY value tests proven-absent skips the file even
            # when the min/max range covers it — the scattered-key
            # point-lookup gap range stats can't close
            if (
                isinstance(bound, (list, set))
                and col in fblooms
                and not any(
                    _bloom_test(fblooms[col], v) for v in bound
                )
            ):
                keep = False
                break
        if keep:
            out.append(f)
    return out


def _with_src(df: DataFrame) -> DataFrame:
    """The file-path lineage column COW rewrites key on, captured AT
    SCAN level (the hidden ``_metadata`` column does not resolve
    through the evolution read's group union)."""
    return df.withColumn(
        "_src",
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/"),
    )


def _with_pos(df: DataFrame) -> DataFrame:
    """Capture (file name, row index) at SCAN level, where _metadata
    still resolves — the row identity merge-on-read deletes key on."""
    return df.withColumns(
        {
            "_mor_file": F.col("_metadata.file_name"),
            "_mor_pos": F.col("_metadata.row_index"),
        }
    )


def _apply_mor_deletes(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    delete_files: list[str],
    keep_pos: bool,
) -> DataFrame:
    """Anti-join the position-delete set (file name, row index) out of
    an assembled snapshot frame. The delete side is a plain parquet
    read the optimizer sizes itself — erasure/quarantine sets are
    small, so AQE broadcasts; a pathological giant delete set degrades
    to a shuffle join instead of an OOM. No-op without delete files."""
    if delete_files:
        dels = spark.read.parquet(
            *[os.path.join(root, f) for f in delete_files]
        )
        df = df.join(
            dels,
            (df["_mor_file"] == dels["file_name"])
            & (df["_mor_pos"] == dels["pos"]),
            "left_anti",
        )
    if not keep_pos and "_mor_file" in df.columns:
        df = df.drop("_mor_file", "_mor_pos")
    return df


def _plan_eq_deletes(
    plan: ScanPlan,
) -> list[tuple[list[str], list[str], set[str] | None]]:
    """Per equality-delete entry covering some planned file: (key file
    paths, key cols, OUT-OF-SCOPE file names or None). None = every
    scanned file is in the entry's scope (no appends since the delete
    touched this subset), so the reader anti-joins without per-row
    file tests — the common fast path. When the scan does include
    post-delete files, the plan carries their names — the COMPLEMENT
    of the scope, sized by appends-since-the-delete (small under the
    compact-regularly CDC contract), never the O(table files) scope
    itself. Entries whose scope misses the whole scan are dropped
    (nothing to delete)."""
    plans = []
    for i, (paths, cols) in enumerate(plan.eq_deletes):
        if not any(i in eq for _f, _m, eq in plan.files):
            continue  # this scan reads only post-delete files
        newer = {
            os.path.basename(f) for f, _m, eq in plan.files if i not in eq
        }
        plans.append((paths, cols, newer or None))
    return plans


def _apply_eq_deletes(
    spark: SparkSession, root: str, df: DataFrame, plans
) -> DataFrame:
    """Anti-join each planned equality-delete key set out of the
    assembled frame (Iceberg v2 equality deletes). Full-scope entries
    are one name-keyed anti-join (AQE broadcasts small key sets);
    partially-scoped entries (rows appended AFTER the delete are in
    the frame) mark instead of split: a left join flags key matches,
    a second left join against the POST-DELETE file names flags
    out-of-scope rows, and one filter drops rows that are both keyed
    and in scope — the sequence-number rule, with the broadcast sized
    by appends-since-the-delete rather than the table. NULL keys
    never match (SQL equality), so null-keyed rows are never deleted.

    LINEAR-PLAN invariant: every entry must reference the
    running frame exactly ONCE. The earlier form split it into
    in/out-of-scope halves and unioned them back — referencing it
    twice per entry, a 2^n plan tree that hung Catalyst outright past
    ~15 accumulated entries (exactly the never-compacted CDC regime
    the read-amplification guard warns about). Flag-and-filter keeps
    the plan O(entries) deep, so an over-accumulated table reads
    SLOWLY (one join per entry, as documented) instead of not at all.

    MERGED SEQUENCE-RANK PLAN: the common CDC shape is a
    chain of upserts whose scopes are NESTED (each entry scopes every
    segment committed before it), which admits Iceberg's sequence-
    number formulation: rank the nested entries by scope ascending
    (rank 1 = earliest/smallest scope), give every scanned file the
    threshold t(f) = the smallest rank whose entry scopes it (files
    appended after ALL entries get the sentinel n+1; files scoped by
    every entry take the default 1 and never appear in the table),
    and delete a row iff max(rank of entries containing its key) >=
    t(its file). That is TWO joins total — one against the per-key
    max-rank table (all entries' key files unioned in one columnar
    read + one tiny aggregate), one file→threshold broadcast —
    instead of 1-2 joins PER accumulated entry, so a 4-entry
    amplified read keeps the plan depth of a 1-entry one; when every
    entry is full-scope it collapses further to a single anti-join.
    Entries whose key columns differ merge per column-signature
    group; a group whose scopes are NOT nested (possible via scoped
    delete-keys commits) falls back to the per-entry flag-and-filter
    path below, preserving the linear-plan invariant."""
    if not plans:
        return df
    orig_cols = list(df.columns)  # USING-joins move key cols first
    merged, plans = _merge_eq_plans(plans)
    for gi, (cols, ranked_paths, file_t) in enumerate(merged):
        if file_t is None:
            # every entry full-scope: one union read, one anti-join
            keys = spark.read.parquet(
                *[
                    os.path.join(root, f)
                    for _rank, paths in ranked_paths
                    for f in paths
                ]
            ).select(*cols).dropDuplicates()
            df = df.join(keys, on=cols, how="left_anti")
            continue
        rank_col, t_col = f"_eq_rank_{gi}", f"_eq_t_{gi}"
        # ONE columnar read over every entry's key files, rank attached
        # from the file name: a spark.read.parquet per entry costs an
        # O(entries) chain of driver round-trips (~0.1 s each) on EVERY
        # head read of an upsert-accumulated table.
        # Part-file basenames carry a per-write UUID (the same
        # uniqueness _mor_file matching already relies on), so
        # basename → rank is a function.
        rank_of = {
            os.path.basename(f): rank
            for rank, paths in ranked_paths
            for f in paths
        }
        rank_map = F.create_map(
            *[
                lit
                for bn, rank in sorted(rank_of.items())
                for lit in (F.lit(bn), F.lit(rank))
            ]
        )
        keys = (
            spark.read.parquet(
                *[
                    os.path.join(root, f)
                    for _rank, paths in ranked_paths
                    for f in paths
                ]
            )
            .select(
                *cols,
                rank_map[
                    F.element_at(F.split(F.input_file_name(), "/"), -1)
                ].alias(rank_col),
            )
            .groupBy(*cols)
            .agg(F.max(rank_col).alias(rank_col))
        )
        t_df = spark.createDataFrame(
            sorted(file_t.items()), f"{t_col}_file string, {t_col} int"
        )
        df = df.join(keys, on=cols, how="left")
        # the threshold table is O(#files in scope) — manifest-sized,
        # never data-sized. Unhinted it plans as a SortMergeJoin (a
        # createDataFrame has no stats => no auto-broadcast): two
        # Exchange+Sort pairs over the whole scanned table just to
        # attach one small int per file. Broadcast is the Iceberg
        # shape for delete-manifest attachment.
        df = df.join(
            F.broadcast(t_df),
            df["_mor_file"] == t_df[f"{t_col}_file"],
            "left",
        )
        deleted = F.col(rank_col).isNotNull() & (
            F.col(rank_col) >= F.coalesce(F.col(t_col), F.lit(1))
        )
        df = df.filter(~deleted).drop(rank_col, t_col, f"{t_col}_file")
    for i, (paths, cols, newer_names) in enumerate(plans):
        keys = spark.read.parquet(
            *[os.path.join(root, f) for f in paths]
        ).select(*cols).dropDuplicates()
        if newer_names is None:
            df = df.join(keys, on=cols, how="left_anti")
            continue
        hit, newer = f"_eq_hit_{i}", f"_eq_newer_{i}"
        keys = keys.withColumn(hit, F.lit(True))
        newer_df = spark.createDataFrame(
            [(n,) for n in sorted(newer_names)], f"{newer}_file string"
        ).withColumn(newer, F.lit(True))
        df = df.join(keys, on=cols, how="left")
        # same manifest-sized broadcast as the merged path above
        df = df.join(
            F.broadcast(newer_df),
            df["_mor_file"] == newer_df[f"{newer}_file"],
            "left",
        )
        deleted = F.col(hit).isNotNull() & F.col(newer).isNull()
        df = df.filter(~deleted).drop(hit, newer, f"{newer}_file")
    return df.select(*orig_cols)


def _merge_eq_plans(plans):
    """Split eq-delete plans into rank-merged groups and leftovers.

    Groups entries by key-column signature. Within a group, orders by
    ``newer`` set size DESCENDING (= scope size ascending; None =
    full scope = empty newer) and checks the nesting invariant
    newer_1 ⊇ newer_2 ⊇ … — the shape every chain of whole-table
    upserts/delete-keys commits produces. A nested group becomes
    ``(cols, [(rank, paths), …], file_t)`` where ``file_t`` maps a
    scanned-file basename to its deletion threshold t(f) (see
    `_apply_eq_deletes`): files inside newer_1 but scoped by some
    later entry get that entry's rank, files inside EVERY newer set
    get the sentinel n+1 (undeletable — no rank reaches it), and
    files outside newer_1 (scoped by all entries) take the join-time
    default 1 by absence. ``file_t`` is None when every entry is
    full-scope (no file test needed at all). A non-nested group is
    returned untouched for the per-entry fallback path."""
    groups: dict[tuple, list] = {}
    order: list[tuple] = []
    for plan in plans:
        sig = tuple(plan[1])
        if sig not in groups:
            groups[sig] = []
            order.append(sig)
        groups[sig].append(plan)
    merged, leftover = [], []
    for sig in order:
        entries = groups[sig]
        if len(entries) == 1 and entries[0][2] is not None:
            # single partially-scoped entry: fallback path is the
            # same two joins — nothing to merge
            leftover.extend(entries)
            continue
        entries = sorted(
            entries, key=lambda e: -(len(e[2]) if e[2] else 0)
        )
        nested = all(
            (entries[i + 1][2] or set()) <= (entries[i][2] or set())
            for i in range(len(entries) - 1)
        )
        if not nested:
            leftover.extend(groups[sig])
            continue
        ranked = [
            (rank, list(paths))
            for rank, (paths, _c, _n) in enumerate(entries, start=1)
        ]
        newer_sets = [e[2] or set() for e in entries]
        if not newer_sets[0]:  # largest newer empty → all full-scope
            merged.append((list(sig), ranked, None))
            continue
        n = len(entries)
        file_t: dict[str, int] = {}
        for name in newer_sets[0]:
            file_t[name] = next(
                (
                    r
                    for r in range(2, n + 1)
                    if name not in newer_sets[r - 1]
                ),
                n + 1,
            )
        merged.append((list(sig), ranked, file_t))
    return merged, leftover


def _read_files(
    spark: SparkSession,
    root: str,
    manifest: dict,
    prune: dict | None = None,
    with_source: bool = False,
    with_pos: bool = False,
    only_files: set[str] | None = None,
) -> DataFrame:
    """Read a manifest's exact (optionally stats-pruned) file list
    under its COMMITTED schema (Iceberg-style: schema lives in
    metadata, so readers never pay a footer-merge pass, and files
    written before an added column null-fill it).

    With column IDs (post-evolution tables): files are grouped by
    their write-time column mapping; each group scans under its own
    physical names/types, then projects to the committed schema by ID
    — rename resolves the old name, widen casts the narrow physical
    type up, drop simply never selects the bytes. Group count is
    bounded by the number of evolution ops, each group keeps full
    pushdown/pruning, and tables that never evolved take the
    single-read fast path below.

    ``with_source`` adds the ``_src`` file-path column (COW rewrite
    lineage) at scan level, where ``_metadata`` still resolves.

    MERGE-ON-READ deletes: when the manifest carries ``delete_files``
    (position-delete parquet written by `commit_mor_delete`), every
    scan captures (_metadata.file_name, _metadata.row_index) and the
    assembled frame anti-joins the delete set on (file, position) —
    Iceberg v2 position deletes / Delta deletion vectors, expressed
    as a join the optimizer sizes itself (erasure sets are small, so
    AQE broadcasts them). ``with_pos`` keeps the ``_mor_file`` /
    ``_mor_pos`` columns visible to the caller (the delete writer
    itself needs them); file NAMES (not paths) key the join — write
    UUIDs make them unique per table and rename-safe."""
    plan = plan_scan(root, manifest, prune, only_files)
    entries = [(f, mapping) for f, mapping, _eq in plan.files]
    dels = plan.pos_deletes
    eq_plans = _plan_eq_deletes(plan)
    # partially-scoped equality deletes split rows on _mor_file, so
    # the scan must capture it even without position deletes
    need_pos = with_pos or bool(dels) or any(
        s is not None for _f, _c, s in eq_plans
    )

    def _finish(frame: DataFrame) -> DataFrame:
        frame = _apply_mor_deletes(spark, root, frame, dels, True)
        frame = _apply_eq_deletes(spark, root, frame, eq_plans)
        if not with_pos and "_mor_file" in frame.columns:
            frame = frame.drop("_mor_file", "_mor_pos")
        return frame
    schema = StructType.fromJson(manifest["schema"])
    if not entries:  # pruned to nothing: empty frame, right schema
        df = spark.createDataFrame([], schema)
        return (
            df.withColumn("_src", F.lit(None).cast("string"))
            if with_source
            else df
        )
    ids = manifest.get("column_ids")
    if not ids:  # table never evolved: one read, committed schema
        df = spark.read.schema(schema).parquet(
            *[os.path.join(root, f) for f, _c in entries]
        )
        if need_pos:
            df = _with_pos(df)
        if with_source:
            df = _with_src(df)
        return _finish(df)

    cur = [
        (f["name"], f["type"], ids.get(f["name"]))
        for f in manifest["schema"]["fields"]
    ]
    groups: dict[str, tuple[dict, list[str]]] = {}
    for f, mapping in entries:
        key = json.dumps(mapping, sort_keys=True)
        groups.setdefault(key, (mapping, []))[1].append(
            os.path.join(root, f)
        )
    parts: list[DataFrame] = []
    for mapping, paths in groups.values():
        by_id = {v["id"]: (n, v["type"]) for n, v in (mapping or {}).items()}
        read_fields = []
        sel = []
        for name, typ, cid in cur:
            hit = by_id.get(cid)
            if hit is None:
                sel.append(("__null__", name, typ))
                continue
            fname, ftype = hit
            read_fields.append({
                "name": fname, "type": ftype,
                "nullable": True, "metadata": {},
            })
            sel.append((fname, name, typ if ftype != typ else None))
        gschema = StructType.fromJson(
            {"type": "struct", "fields": read_fields}
        )
        df = spark.read.schema(gschema).parquet(*paths)
        if need_pos:
            df = _with_pos(df)
        if with_source:
            df = _with_src(df)
        cols = []
        for src, name, cast_t in sel:
            if src == "__null__":
                cols.append(
                    F.lit(None)
                    .cast(_field_type_str(cast_t))
                    .alias(name)
                )
            elif cast_t is not None:
                cols.append(
                    F.col(src).cast(_field_type_str(cast_t)).alias(name)
                )
            else:
                cols.append(F.col(src).alias(name))
        if need_pos:
            cols.append(F.col("_mor_file"))
            cols.append(F.col("_mor_pos"))
        if with_source:
            cols.append(F.col("_src"))
        parts.append(df.select(*cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _finish(out)


def _field_type_str(type_json):
    """A schema-JSON field type as something Column.cast accepts:
    primitive type strings pass through; complex types go through a
    single-field struct round-trip."""
    if isinstance(type_json, str):
        return type_json
    return (
        StructType.fromJson(
            {
                "type": "struct",
                "fields": [
                    {
                        "name": "c",
                        "type": type_json,
                        "nullable": True,
                        "metadata": {},
                    }
                ],
            }
        )
        .fields[0]
        .dataType
    )


def commit_append(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    stats_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    ref: str = "main",
    bloom_cols: list[str] | None = None,
) -> int:
    """Append-only commit: ONE new segment for the new files, every
    parent segment carried by name — O(delta) data + O(delta) segment
    metadata + an O(#segments) commit file, independent of the
    table's total file count. The committed snapshot schema is the
    APPEND's schema (add-only evolution enforced), so a widened append
    upgrades the table for readers of this and later versions while
    older versions keep their own committed schema.

    ``stats_cols`` opts the table into manifest min/max stats for
    those columns (footer-lifted, no data scan): later reads with a
    ``prune`` range skip non-overlapping files without opening them.
    Once set it is INHERITED by every later commit (append / delete /
    compact recompute stats for the files they write), so the skipping
    guarantee never silently lapses mid-history.

    ``partition_by`` records an IDENTITY PARTITION SPEC in the
    manifest (Iceberg's spec, identity transforms): the append's
    files are laid out one-partition-tuple-per-file and each file's
    partition values land in segment metadata, so `read_snapshot`
    with a matching ``prune`` resolves the file subset exactly from
    metadata, and partition-scoped deletes (`commit_delete_where`
    with ``scan_prune``) touch only matching files. Like stats_cols
    the spec is inherited: later appends/deletes/compactions preserve
    the layout. Derived partition columns (day strings, Z-order
    cells) are the caller's: add the column to the frame first —
    it stays in the data files (mirror-column layout), so the
    committed schema includes it.

    ``ref`` targets a branch created by `create_branch` (the
    write-audit-publish staging area); the default commits to the
    trunk. A branch append may NOT create a table."""
    if ref != "main" and not current_version(root, ref):
        raise ValueError(f"no branch {ref!r}; create_branch first")
    create_table(root)
    parent = current_version(root, ref)
    prev_manifest = read_manifest(root, parent, ref) if parent else {}
    _check_add_only(prev_manifest, df)
    extra = _inherit(
        prev_manifest,
        _fields(df),
        stats_cols=stats_cols,
        bloom_cols=bloom_cols,
        partition_spec=partition_by,
    )
    files = _write_data_files(df, root, extra.get("partition_spec"))
    segs = prev_manifest.get("segments", []) + _new_segment(
        root, files, extra
    )
    return _commit(root, parent, "append", segs, extra, ref)


# ---- file-based commits (the Python DataSource WRITE path) ---------
#
# `df.write.format("snapshot")` executes through Spark's Python
# DataSource writer API: EXECUTOR tasks stream their arrow batches
# straight into staged parquet files (spark_source._write_task) and
# the driver links the already-written files into a manifest commit.
# These three functions are that link step — the same segment/stats/
# bloom/partition metadata as their DataFrame twins (`commit_append`,
# `commit_mor_upsert`), minus the write, so the data never makes a
# second pass through the driver. A failed job leaves the staged
# files as unreferenced orphans for `vacuum` — the format's standard
# crash model.


def commit_append_files(
    root: str,
    files: list[str],
    schema: dict,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    extra_meta: dict | None = None,
    ref: str = "main",
) -> int:
    """Commit ALREADY-WRITTEN table-relative parquet files as an
    append. ``schema`` is the frame's schema JSON (StructType.json());
    add-only evolution is enforced against the head exactly like
    `commit_append`, and the specs follow `_inherit` (the caller's
    stats/bloom columns join the head's; its partition spec seeds a
    new table). Retries on concurrent commits re-link the staged
    segment (write-once data)."""
    if ref != "main" and not current_version(root, ref):
        raise ValueError(f"no branch {ref!r}; create_branch first")
    create_table(root)

    def build(pm: dict) -> tuple[list[str], dict]:
        _check_add_only_fields(pm, schema["fields"])
        return pm.get("segments", []), _inherit(
            pm,
            schema["fields"],
            stats_cols=stats_cols,
            bloom_cols=bloom_cols,
            partition_spec=partition_by,
            **(extra_meta or {}),
        )

    return _commit_segments_with_retry(root, "append", files, build, ref)


def commit_overwrite_files(
    root: str,
    files: list[str],
    schema: dict,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    extra_meta: dict | None = None,
) -> int:
    """FULL-TABLE REPLACE with already-written files
    (``df.write.format("snapshot").mode("overwrite")``): one fresh
    segment, NO carried parent segments and NO carried deletes — the
    old rows are gone, so carrying their delete files would be dead
    metadata. Cluster specs are dropped too (the new files are not
    Z-clustered). The add-only schema contract still applies while
    the table exists: changing a column's type or dropping it goes
    through the evolution API, not an overwrite. Readers pinned to
    older versions keep their files until retention GC; snapshot
    STREAMS skip the commit (op != append) — Delta's
    ignoreChanges-style contract, documented not silent."""
    create_table(root)

    def build(pm: dict) -> tuple[list[str], dict]:
        _check_add_only_fields(pm, schema["fields"])
        return [], _inherit(
            pm,
            schema["fields"],
            clear=("cluster_spec", "delete_files", "eq_delete_files"),
            stats_cols=stats_cols,
            bloom_cols=bloom_cols,
            partition_spec=partition_by,
            **(extra_meta or {}),
        )

    return _commit_segments_with_retry(root, "overwrite", files, build)


def commit_mor_upsert_files(
    root: str,
    files: list[str],
    key_files: list[str],
    key_cols: list[str],
    schema: dict,
    extra_meta: dict | None = None,
) -> int:
    """`commit_mor_upsert` over ALREADY-WRITTEN data + key files (the
    streaming DataSource sink's upsert mode): equality-delete the key
    set from everything written before and link the new segment, one
    atomic commit, zero scan. ``key_files`` hold exactly the
    ``key_cols`` columns; executor tasks dedup keys within their own
    slice — CROSS-task duplicate keys are fine (the anti-join is
    set-semantics). Retries on concurrent commits recompute the
    delete SCOPE from the new head (the staged files never move)."""
    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    incoming = {f["name"] for f in schema["fields"]}
    missing = [c for c in key_cols if c not in incoming]
    if missing:
        raise ValueError(f"key column(s) {missing} not in the frame")

    def build(pm: dict) -> tuple[list[str], dict]:
        if not pm:
            raise ValueError(
                "cannot upsert into an empty table; append first"
            )
        committed = {f["name"] for f in pm["schema"]["fields"]}
        alien = [c for c in key_cols if c not in committed]
        if alien:
            raise ValueError(
                f"key column(s) {alien} not in the committed schema"
            )
        _check_add_only_fields(pm, schema["fields"])
        extra = _inherit(
            pm,
            schema["fields"],
            eq_delete_files=[
                {
                    "files": list(key_files),
                    "cols": list(key_cols),
                    "scope_segments": list(pm["segments"]),
                }
            ],
            **(extra_meta or {}),
        )
        _warn_read_amplification(len(extra["eq_delete_files"]), root)
        return list(pm["segments"]), extra

    return _commit_segments_with_retry(root, "upsert-mor", files, build)


def _hit(predicate):
    """SQL DELETE's rule: only TRUE matches; NULL keeps, like FALSE."""
    return F.coalesce(predicate.cast("boolean"), F.lit(False))


def _where(predicate):
    """A `_rewrite_matching` match on ``predicate``'s `_hit` rows."""
    hit = _hit(predicate)
    return lambda frame, how: frame.filter(
        hit if how == "left_semi" else ~hit
    )


def _keyed(keys: DataFrame, key_cols: list[str]):
    """A `_rewrite_matching` match on ``keys``' distinct ``key_cols``
    (a broadcast join; NULL keys never match)."""
    k = F.broadcast(keys.select(*key_cols).distinct())
    return lambda frame, how: frame.join(k, key_cols, how)


def _segments_after_removal(
    root: str, prev_segs: list[str], affected: set[str]
) -> list[str]:
    """The COW carry rule: untouched segments carry by NAME;
    partially-affected segments are replaced by one that lists only
    their kept files, with those files' existing stats, partition
    tuples, blooms, row counts and write-time columns carried forward;
    fully-affected segments vanish."""
    new_segs: list[str] = []
    for seg in prev_segs:
        obj = _read_segment_obj(root, seg)
        seg_files = obj["files"]
        kept = [f for f in seg_files if f not in affected]
        if len(kept) == len(seg_files):
            new_segs.append(seg)
        elif kept:
            # files unchanged -> metadata unchanged, footers unopened
            meta = {
                k: {f: obj[k][f] for f in kept if f in obj[k]}
                for k in _FILE_KEYS
                if k in obj
            }
            meta["columns"] = obj.get("columns")
            new_segs.append(_write_segment(root, kept, meta))
    return new_segs


def _rewrite_matching(
    spark: SparkSession,
    root: str,
    ref: str,
    op: str,
    match,
    insert: DataFrame | None = None,
    scan_prune: dict | None = None,
) -> int:
    """THE copy-on-write commit on ``ref``'s head (Iceberg's "rewrite
    the data files that hold matching rows"): drop the rows ``match``
    selects and add ``insert``'s, as one commit named ``op``.
    ``match(frame, how)`` returns the matching rows for "left_semi"
    and the others for "left_anti" (`_where`, `_keyed`).

    One scan of the head, through the hidden file path and optionally
    ``scan_prune``-scoped, lists the AFFECTED files on the driver; only
    they are re-read (a broadcast semi-join on that set) and their
    surviving rows rewritten, with ``insert`` (add-only, so it holds
    every head column), by one write into at most one new segment.
    Untouched segments carry by name (`_segments_after_removal`)."""
    parent = current_version(root, ref)
    pm = read_manifest(root, parent, ref)
    if insert is not None:
        _check_add_only(pm, insert)
    with_file = _read_files(
        spark, root, pm, prune=scan_prune, with_source=True
    )
    affected_df = match(with_file, "left_semi").select("_src").distinct()
    affected = {
        os.path.relpath(r["_src"], root) for r in affected_df.collect()
    }
    extra = _inherit(pm, None if insert is None else _fields(insert))
    segs = list(pm["segments"])
    rows = insert
    if affected:
        segs = _segments_after_removal(root, segs, affected)
        # a USING join moves its keys first; survivors keep the layout
        survivors = match(
            with_file.join(F.broadcast(affected_df), "_src", "left_semi"),
            "left_anti",
        ).select(*[f["name"] for f in pm["schema"]["fields"]])
        rows = (
            survivors
            if insert is None
            else survivors.unionByName(insert, allowMissingColumns=True)
        )
    if rows is not None:
        written = _write_data_files(rows, root, extra.get("partition_spec"))
        segs += _new_segment(root, written, extra)
    return _commit(root, parent, op, segs, extra, ref)


def commit_delete_where(
    spark: SparkSession,
    root: str,
    predicate,
    scan_prune: dict | None = None,
    ref: str = "main",
) -> int:
    """Copy-on-write delete of the rows where ``predicate`` (a Column
    over the table schema) is TRUE: only the files holding such rows
    are rewritten (`_rewrite_matching`). SQL DELETE semantics: a row
    where it evaluates NULL is KEPT, exactly like FALSE.

    ``scan_prune`` scopes the affected-file scan to files matching a
    `pruned_manifest_files` bound (range or value set) — the
    partition-scoped delete: a GDPR erasure on a cell-partitioned
    table scans only the victim's cells. Contract (caller-owed, like
    read pruning): the predicate is FALSE on every row of every
    pruned-out file, else those matching rows silently survive."""
    if not current_version(root, ref):
        raise ValueError("cannot delete from an empty table or branch")
    return _rewrite_matching(
        spark, root, ref, "delete", _where(predicate), scan_prune=scan_prune
    )


def commit_mor_delete(
    spark: SparkSession,
    root: str,
    predicate,
    scan_prune: dict | None = None,
    ref: str = "main",
) -> int:
    """MERGE-ON-READ delete (Iceberg v2 position deletes / Delta
    deletion vectors): instead of rewriting affected data files (the
    copy-on-write `commit_delete_where`), ONE scan records the
    matching rows' (file name, row index) positions into a small
    position-delete parquet, and the commit carries every data
    segment untouched plus the accumulated ``delete_files`` list.
    Readers anti-join the positions out at scan assembly
    (`_read_files`), so the delete is visible at the next snapshot
    with ZERO data rewritten — the shape a 100 TB GDPR erasure wants
    when the victims are scattered across thousands of files and COW
    would rewrite them all. `compact` later applies and clears the
    accumulated deletes (and aborts if one lands mid-fold).

    Same SQL DELETE semantics as COW: only predicate-TRUE rows
    delete (NULL keeps); ``scan_prune`` scopes the position scan with
    the caller-owed guarantee that pruned-out files contain no
    matches; re-deleting an already-deleted row is a no-op (its
    position is already absent from the read). Cost model: one
    (prunable) scan + O(matches) delete rows + an O(#segments)
    commit; reads pay one anti-join against O(accumulated deletes).
    """
    parent = current_version(root, ref)
    if not parent:
        raise ValueError("cannot delete from an empty table or branch")
    prev_manifest = read_manifest(root, parent, ref)
    prev_segs = list(prev_manifest["segments"])
    hit = _hit(predicate)
    live = _read_files(
        spark, root, prev_manifest, prune=scan_prune, with_pos=True
    )
    positions = (
        live.filter(hit)
        .select(
            F.col("_mor_file").alias("file_name"),
            F.col("_mor_pos").alias("pos"),
        )
    )
    # bounded fan-in (no shuffle): a position set is O(matches) rows
    # of two small columns — 16 writers keep the write parallel while
    # capping the per-commit delete-file count
    written = _write_data_files(positions.coalesce(16), root)
    extra = _inherit(prev_manifest, delete_files=written)
    return _commit(root, parent, "delete-mor", prev_segs, extra, ref)


def commit_mor_delete_keys(
    spark: SparkSession,
    root: str,
    keys_df: DataFrame,
    ref: str = "main",
) -> int:
    """MERGE-ON-READ EQUALITY DELETE (Iceberg v2 equality deletes):
    delete every row whose key columns match a row of ``keys_df`` —
    with NO scan at commit time. Where `commit_mor_delete` must first
    locate row positions (one table scan), this writes the key set
    itself as a delete file and commits O(keys): the shape an
    upsert-heavy CDC stream wants, where the keys are already in hand
    and scanning 100 TB per micro-batch to find positions would
    dominate the pipeline.

    Scope semantics (Iceberg's sequence-number rule): the delete
    applies ONLY to rows written BEFORE it — each entry records the
    parent snapshot's segments as its scope, so a row with a deleted
    key appended LATER (the CDC re-insert) is served, not swallowed.
    Readers anti-join scoped rows against the key set at scan
    assembly; `compact` folds the deletes in and clears the list.
    SQL semantics: NULL key values never match (like Iceberg), so a
    null-keyed row cannot be deleted by equality.

    ``keys_df`` columns name the key (one or more committed columns,
    matched by name); duplicates are deduped at write. Renaming or
    dropping a column referenced by a live equality delete raises
    `SchemaEvolutionError` — compact first (the keys file binds the
    old name).

    Cost model: commit is O(distinct keys) written + O(#segments)
    metadata; reads pay one anti-join per accumulated entry (AQE
    broadcasts small key sets), so compact regularly under sustained
    CDC — exactly Iceberg's guidance."""
    parent = current_version(root, ref)
    if not parent:
        raise ValueError("cannot delete from an empty table or branch")
    prev_manifest = read_manifest(root, parent, ref)
    cols = list(keys_df.columns)
    if not cols:
        raise ValueError("keys_df needs at least one key column")
    committed = {f["name"] for f in prev_manifest["schema"]["fields"]}
    missing = [c for c in cols if c not in committed]
    if missing:
        raise ValueError(
            f"key column(s) {missing} not in the committed schema"
        )
    prev_segs = list(prev_manifest["segments"])
    written = _write_data_files(
        keys_df.dropDuplicates().coalesce(4), root
    )
    entry = {
        "files": written,
        "cols": cols,
        "scope_segments": list(prev_segs),
    }
    extra = _inherit(prev_manifest, eq_delete_files=[entry])
    _warn_read_amplification(len(extra["eq_delete_files"]), root)
    return _commit(root, parent, "delete-mor-eq", prev_segs, extra, ref)


def commit_mor_upsert(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    key_cols: list[str],
    ref: str = "main",
    extra_meta: dict | None = None,
) -> int:
    """MERGE-ON-READ UPSERT — the CDC apply, with ZERO table scan and
    ZERO rewrite at commit: equality-delete the incoming rows' keys
    from everything written before, and append the incoming rows, as
    ONE atomic commit. A reader sees the pre-upsert snapshot or the
    fully-applied one, never a gap where old rows are gone and new
    ones not yet visible (the hazard of composing delete+append as
    two commits).

    This is the Iceberg v2 upsert encoding (equality-delete file +
    data file, same sequence number) and the shape an upsert-heavy
    CDC stream needs: where `commit_merge` (COW) must scan to locate
    and rewrite affected files per batch, this writes O(batch) data +
    O(distinct keys) delete rows + O(#segments) metadata — per
    100 TB micro-batch, the difference between seconds and a table
    scan. Readers pay the same scoped anti-join as
    `commit_mor_delete_keys`; `compact` folds the accumulated
    entries away. Latest-wins across repeated upserts of one key:
    each upsert's delete scopes every EARLIER segment, including
    prior upserts' appends.

    Same add-only schema contract as `commit_append`; ``key_cols``
    must exist in both the incoming frame and the committed schema.
    SQL NULL semantics: a null key never matches, so null-keyed prior
    rows survive (and null-keyed incoming rows are plain inserts)."""
    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    parent = current_version(root, ref)
    if not parent:
        raise ValueError(
            "cannot upsert into an empty table or branch; "
            "commit_append first"
        )
    missing = [c for c in key_cols if c not in df.columns]
    if missing:
        raise ValueError(f"key column(s) {missing} not in the frame")
    prev_manifest = read_manifest(root, parent, ref)
    committed = {f["name"] for f in prev_manifest["schema"]["fields"]}
    alien = [c for c in key_cols if c not in committed]
    if alien:
        raise ValueError(
            f"key column(s) {alien} not in the committed schema"
        )
    _check_add_only(prev_manifest, df)
    prev_segs = list(prev_manifest["segments"])
    files = _write_data_files(
        df, root, prev_manifest.get("partition_spec")
    )
    # Derive the key sidecar from the JUST-STAGED files, not from
    # ``df`` again: evaluating ``df`` twice re-executes its whole
    # upstream plan (for a CDC micro-batch, a second pass over the
    # stream source) where the staged parquet is a column-pruned
    # local read of exactly the batch.
    if files:
        staged = df.sparkSession.read.parquet(
            *[os.path.join(root, f) for f in files]
        )
        key_src = staged.select(*key_cols)
    else:  # empty batch: nothing staged to re-read
        key_src = df.select(*key_cols)
    key_files = _write_data_files(
        key_src.dropDuplicates().coalesce(4), root
    )
    extra = _inherit(
        prev_manifest,
        _fields(df),
        eq_delete_files=[
            {
                "files": key_files,
                "cols": list(key_cols),
                "scope_segments": list(prev_segs),
            }
        ],
        **(extra_meta or {}),  # e.g. the (stream_id, batch_id) ledger
    )
    _warn_read_amplification(len(extra["eq_delete_files"]), root)
    segs = prev_segs + _new_segment(root, files, extra)
    return _commit(root, parent, "upsert-mor", segs, extra, ref)


def commit_overwrite_where(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    predicate,
    scan_prune: dict | None = None,
    ref: str = "main",
) -> int:
    """ATOMIC REPLACE (Delta ``replaceWhere`` / Iceberg dynamic
    overwrite): delete every row where ``predicate`` is TRUE and
    insert ``df``'s rows, as ONE commit — the backfill/restatement op.
    A reader sees the old slice or the new slice, never neither/both;
    a crash anywhere leaves either the parent snapshot or the
    completed overwrite (the single-phase commit contract).

    Validates Delta's replaceWhere contract: every ``df`` row must
    satisfy ``predicate`` (otherwise the "overwrite day X" commit
    would smuggle rows into other days — raise instead). Same COW
    rewrite and ``scan_prune`` contract as `commit_delete_where`; the
    replacement rows land in the rewrite's one new segment. The
    changelog treats an overwrite like a delete: a restatement is not
    an append-feed event."""
    if not current_version(root, ref):
        raise ValueError("cannot overwrite in an empty table or branch")
    if df.filter(~_hit(predicate)).limit(1).count():
        raise ValueError(
            "replacement rows must satisfy the overwrite predicate "
            "(Delta replaceWhere contract); found rows outside it"
        )
    return _rewrite_matching(
        spark, root, ref, "overwrite", _where(predicate), df, scan_prune
    )


def commit_merge(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    key_cols: list[str],
    scan_prune: dict | None = None,
    ref: str = "main",
) -> int:
    """MERGE (upsert) commit — Delta's ``MERGE INTO`` / Iceberg's
    copy-on-write merge, the lakehouse ingest-update path: every
    target row whose key matches a source row is REPLACED by that
    source row; source rows with no target match are APPENDED. One
    commit, snapshot-isolated like every other op.

    Same COW rewrite and ``scan_prune`` contract as
    `commit_delete_where`; the source lands with the affected files'
    survivors in one new segment, and the key match is a broadcast
    join while the source is batch-sized.

    Contract: ``key_cols`` must be unique IN THE SOURCE (the classic
    MERGE multiple-match error is raised here rather than silently
    multiplying rows); target duplicates are all replaced by the one
    source row. NULL keys never match (SQL join semantics) — a NULL-
    keyed source row inserts."""
    if not current_version(root, ref):
        # empty table: a merge is just the first append
        return commit_append(spark, root, source, ref=ref)
    # NULL keys never match, so NULL-keyed source rows are plain
    # inserts, not a multiple-match hazard (groupBy would pair them)
    all_keys_set = reduce(
        lambda a, b: a & b, [F.col(c).isNotNull() for c in key_cols]
    )
    dup = (
        source.filter(all_keys_set)
        .groupBy(*key_cols)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "merge source has duplicate keys on "
            f"{key_cols!r} — each target row may match at most one "
            "source row"
        )
    return _rewrite_matching(
        spark, root, ref, "merge", _keyed(source, key_cols), source,
        scan_prune,
    )


def commit_delete_keys(
    spark: SparkSession,
    root: str,
    keys: DataFrame,
    key_cols: list[str],
    scan_prune: dict | None = None,
    ref: str = "main",
) -> int:
    """DELETE by KEY SET — ``DELETE FROM target WHERE key IN
    (keys)``, the anti-join delete every data pipeline runs when the
    drop-list is a FRAME (near-dup losers, GDPR subject lists,
    quarantined ids), not an expression. A predicate `.isin(...)`
    would inline the whole list as plan literals; here the key set
    stays a broadcast-joined DataFrame at any size the optimizer can
    broadcast, falling back to a shuffle join beyond that.

    Same COW rewrite and ``scan_prune`` contract as
    `commit_delete_where`. NULL keys never match, so NULL-keyed target
    rows always survive."""
    if not current_version(root, ref):
        raise ValueError("cannot delete from an empty table or branch")
    return _rewrite_matching(
        spark, root, ref, "delete", _keyed(keys, key_cols),
        scan_prune=scan_prune,
    )


def rollback_to(root: str, version: int) -> int:
    """Roll the head back to ``version``'s row set as a NEW commit
    (history is immutable — the bad commits stay readable until
    retention expires them, exactly like Delta RESTORE / Iceberg
    rollback). Metadata-only: the target version's segments are
    carried by name; no data moves."""
    head = current_version(root)
    if not (1 <= version <= head):
        raise ValueError(f"no version {version} to roll back to")
    target = read_manifest(root, version)
    # rolling back across an evolution restores the target's schema
    # AND mapping; next_column_id stays at the table-wide max so a
    # retired ID is never re-minted
    extra = _inherit(
        target,
        next_column_id=read_manifest(root, head).get("next_column_id"),
        rolled_back_to=version,
    )
    return _commit(root, head, "rollback", list(target["segments"]), extra)


def create_branch(root: str, name: str, version: int | None = None) -> int:
    """Fork a BRANCH off trunk ``version`` (default: head) — the
    write-audit-publish staging area (Iceberg branch / Git shape):
    branch commits go through the normal commit ops with ``ref=name``
    and never move the trunk; `publish_branch` lands the audited
    result back as one trunk commit. Metadata-only: the fork carries
    the source version's segments BY NAME (no data moves).

    The branch's v1 IS the fork point; creation is create-once via the
    same put-if-absent link as every commit, so two racing creators
    resolve to exactly one branch. Returns the branch head (1)."""
    _check_ref_name(name)
    head = current_version(root)
    v = head if version is None else version
    if not (1 <= v <= head):
        raise ValueError(f"no trunk version {v} to branch from")
    src = read_manifest(root, v)
    extra = _inherit(src, fork_version=v)
    try:
        return _commit(
            root, 0, "branch", list(src["segments"]), extra, name
        )
    except ConcurrentCommit:
        raise ValueError(f"branch {name!r} already exists") from None


def list_branches(root: str) -> dict[str, int]:
    """{branch name: head version in the branch's own chain}."""
    heads: dict[str, int] = {}
    try:
        names = os.listdir(_meta_dir(root))
    except OSError:
        return heads
    for n in names:
        m = _BRANCH_FILE_RE.match(n)
        if m:
            b, v = m.group(1), int(m.group(2))
            heads[b] = max(heads.get(b, 0), v)
    return heads


def drop_branch(root: str, name: str) -> None:
    """Delete a branch's manifests (its data files become unreferenced
    and age out via `vacuum`, exactly like expired versions). Unlinks
    HEAD-FIRST so a concurrent reader only ever observes a shorter,
    still-consistent chain, never a torn head."""
    head = current_version(root, name)
    if not head:
        raise ValueError(f"no branch {name!r}")
    for v in range(head, 0, -1):
        try:
            os.remove(_manifest_path(root, v, name))
        except FileNotFoundError:
            pass


def create_tag(root: str, name: str, version: int | None = None) -> None:
    """Pin an immutable TAG to trunk ``version`` (default: head).
    Tags survive `expire_snapshots` — the pinned manifest and every
    file it references stay readable until `drop_tag` — which is the
    reproducibility contract a training run needs: tag the corpus
    version a model trained on and the exact row set remains
    re-readable regardless of retention. Create-once (put-if-absent
    link), atomic, O(1) metadata."""
    _check_ref_name(name)
    head = current_version(root)
    v = head if version is None else version
    if not (1 <= v <= head) or not os.path.exists(_manifest_path(root, v)):
        raise ValueError(f"no trunk version {v} to tag")
    path = _tag_path(root, name)
    tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump({"name": name, "version": v, "ts": int(time.time())}, fh)
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise ValueError(f"tag {name!r} already exists") from None
    finally:
        os.unlink(tmp)


def tag_version(root: str, name: str) -> int:
    """The trunk version a tag pins."""
    try:
        with open(_tag_path(root, name)) as fh:
            return int(json.load(fh)["version"])
    except FileNotFoundError:
        raise ValueError(f"no tag {name!r}") from None


def list_tags(root: str) -> dict[str, int]:
    """{tag name: pinned trunk version}."""
    out: dict[str, int] = {}
    try:
        names = os.listdir(_meta_dir(root))
    except OSError:
        return out
    for n in names:
        if n.startswith("t-") and n.endswith(".json") and ".tmp-" not in n:
            with open(os.path.join(_meta_dir(root), n)) as fh:
                tag = json.load(fh)
            out[tag["name"]] = int(tag["version"])
    return out


def drop_tag(root: str, name: str) -> None:
    try:
        os.remove(_tag_path(root, name))
    except FileNotFoundError:
        raise ValueError(f"no tag {name!r}") from None


def publish_branch(
    root: str, name: str, allow_diverged: bool = False
) -> int:
    """Land a branch's head on the trunk as ONE commit — the PUBLISH
    of write-audit-publish. Metadata-only (the branch head's segments
    carry by name), so the audited row set becomes the trunk row set
    atomically and time travel still sees the pre-publish trunk.

    Safety: by default the trunk must not have moved since the fork
    (fast-forward publish). If it has, the branch's audited state no
    longer reflects trunk history and we raise ConcurrentCommit — the
    caller re-forks, re-audits, retries. ``allow_diverged=True``
    overrides with last-writer-wins (the branch row set REPLACES the
    diverged trunk rows, schema mapping taken from the branch)."""
    bh = current_version(root, name)
    if not bh:
        raise ValueError(f"no branch {name!r}")
    try:
        bm = read_manifest(root, bh, name)
        fork = int(
            read_manifest(root, 1, name).get("fork_version") or 0
        )
    except OSError:  # concurrent drop_branch between head and read
        raise ValueError(f"no branch {name!r}") from None
    head = current_version(root)
    if head != fork and not allow_diverged:
        raise ConcurrentCommit(
            f"trunk advanced to v{head} since branch {name!r} forked at "
            f"v{fork}; re-fork and re-audit, or publish with "
            "allow_diverged=True"
        )
    head_m = read_manifest(root, head) if head else {}
    extra = _inherit(
        bm,
        next_column_id=head_m.get("next_column_id"),
        published_from={
            "branch": name,
            "branch_version": bh,
            "fork_version": fork,
        },
    )
    return _commit(
        root, head, "publish", list(bm["segments"]), extra
    )


# Metadata tables: one driver-side row assembler per kind, each
# returning (schema, rows) from manifest/segment JSON alone. The
# library wraps them in a DataFrame; the ``format("snapshot")``
# DataSource serves the same rows through ``option("metadata", kind)``.
_REFS_SCHEMA = (
    StructType()
    .add("ref", "string")
    .add("kind", "string")
    .add("version", "integer")
    .add("fork_version", "integer")
)
_FILES_SCHEMA = (
    StructType()
    .add("file", "string")
    .add("segment", "string")
    .add("n_rows", "long")
    .add("partition", MapType(StringType(), StringType()))
)
_HISTORY_SCHEMA = (
    StructType()
    .add("version", "integer")
    .add("parent", "integer")
    .add("op", "string")
    .add("committed_at", "long")
    .add("n_segments", "integer")
    .add("n_files", "integer")
    .add("n_pos_delete_files", "integer")
    .add("n_eq_delete_entries", "integer")
    .add("stream_id", "string")
    .add("batch_id", "long")
    .add("rolled_back_to", "integer")
)


def _refs_table(root: str) -> tuple[StructType, list[tuple]]:
    rows = [("main", "branch", current_version(root), None)]
    for b, head in sorted(list_branches(root).items()):
        try:
            fork = int(
                read_manifest(root, 1, b).get("fork_version") or 0
            )
        except OSError:
            continue  # branch dropped between the listing and the read
        rows.append((b, "branch", head, fork))
    for t, v in sorted(list_tags(root).items()):
        rows.append((t, "tag", v, None))
    return _REFS_SCHEMA, rows


def _files_table(
    root: str, version: int, ref: str = "main"
) -> tuple[StructType, list[tuple]]:
    rows = []
    for seg in read_manifest(root, version, ref)["segments"]:
        obj = _read_segment_obj(root, seg)
        nrows = obj.get("rows") or {}
        parts = obj.get("partitions") or {}
        rows.extend(
            (f, seg, nrows.get(f), parts.get(f)) for f in obj["files"]
        )
    return _FILES_SCHEMA, rows


def _partitions_table(
    root: str, version: int, ref: str = "main"
) -> tuple[StructType, list[tuple]]:
    spec = read_manifest(root, version, ref).get("partition_spec")
    if not spec:
        raise ValueError(
            "table has no partition_spec; commit with partition_by first"
        )
    groups: dict = {}
    for _f, _seg, n, pv in _files_table(root, version, ref)[1]:
        key = tuple((pv or {}).get(c) for c in spec)
        cnt, total, complete = groups.get(key, (0, 0, True))
        groups[key] = (cnt + 1, total + (n or 0), complete and n is not None)
    # per-file counts are null for segments written before row
    # accounting; a sum would silently skip them and present a
    # plausible UNDERCOUNT as metadata-exact — null the group's count
    # instead whenever any of its files lacks one. Files committed
    # before partition_by was established (or hive-null values) map
    # to None components; the None-safe sort keeps them first.
    rows = [
        key + (cnt, total if complete else None)
        for key, (cnt, total, complete) in sorted(
            groups.items(),
            key=lambda kv: tuple(
                (v is not None, "" if v is None else str(v)) for v in kv[0]
            ),
        )
    ]
    schema = StructType()
    for c in spec:
        schema.add(c, "string")
    return schema.add("n_files", "long").add("n_rows", "long"), rows


def _history_table(root: str) -> tuple[StructType, list[tuple]]:
    rows = []
    for v in range(1, current_version(root) + 1):
        try:
            m = read_manifest(root, v)
        except OSError:
            continue  # expired by retention
        rows.append(
            (
                v,
                int(m["parent"]),
                m["op"],
                int(m["ts"]),
                len(m["segments"]),
                len(manifest_files(root, m)),
                len(m.get("delete_files") or []),
                len(m.get("eq_delete_files") or []),
                m.get("stream_id"),
                m.get("batch_id"),
                m.get("rolled_back_to"),
            )
        )
    return _HISTORY_SCHEMA, rows


def table_refs(spark: SparkSession, root: str) -> DataFrame:
    """Named refs as a metadata table (Iceberg's ``refs``): one row
    per branch (head version in its own chain + trunk fork point) and
    per tag (pinned trunk version), plus the implicit trunk. Resolved
    from O(#refs) small JSON — no data files open."""
    schema, rows = _refs_table(root)
    return spark.createDataFrame(rows, schema)


def table_files(
    spark: SparkSession,
    root: str,
    version: int | str | None = None,
    ref: str = "main",
) -> DataFrame:
    """The FILES METADATA TABLE (Iceberg's ``files``): one row per
    data file of the resolved snapshot with its owning segment, its
    footer-lifted row count, and its identity-partition tuple — all
    from manifest/segment JSON, no data files open. Row counts and
    partition values are recorded at segment-write time; files from
    segments written before row accounting existed surface null (the
    honest answer, not a scan).

    Scale shape: assembly is O(#files) of metadata on the driver —
    the audit/inspection surface, not a data-plane operator; the
    two-tier layout bounds each segment, and a table with millions of
    files would lift the same segment JSONs through a distributed
    read keyed by segment name."""
    if isinstance(version, str):
        version = tag_version(root, version)
    v = current_version(root, ref) if version is None else version
    schema, rows = _files_table(root, v, ref)
    return spark.createDataFrame(rows, schema)


def table_partitions(
    spark: SparkSession,
    root: str,
    version: int | str | None = None,
    ref: str = "main",
) -> DataFrame:
    """The PARTITIONS METADATA TABLE (Iceberg's ``partitions``): one
    row per identity-partition tuple of the resolved snapshot with
    its file count and metadata-exact row count — answered entirely
    from segment JSON. The ops surface for layout questions (skewed
    partitions, small-file pressure, erasure-scope sizing) that must
    not cost a 100 TB scan. Requires a recorded partition spec."""
    if isinstance(version, str):
        version = tag_version(root, version)
    v = current_version(root, ref) if version is None else version
    schema, rows = _partitions_table(root, v, ref)
    return spark.createDataFrame(rows, schema)


def clustered_prune(
    root: str,
    a_lo: int,
    a_hi: int,
    b_lo: int,
    b_hi: int,
    version: int | None = None,
) -> dict:
    """Box-probe prune bound for a cluster-compacted table: decompose
    the rectangle over the RECORDED cluster_spec (cols + shifts from
    `compact(cluster_by=...)`) into the admissible cell set —
    parameter-sized (<= 256 cells), pure driver-side arithmetic. Pass
    the result as `read_snapshot(..., prune=...)` UNDER the equivalent
    row filter, exactly like partition pruning."""
    from metastore_spark.layout import zcells_for_box

    m = read_manifest(root, version or current_version(root))
    cs = m.get("cluster_spec")
    if not cs:
        raise ValueError(
            "table has no cluster_spec; run compact(cluster_by=[a, b]) "
            "first"
        )
    cells = zcells_for_box(
        a_lo, a_hi, b_lo, b_hi, cs["shifts"][0], cs["shifts"][1]
    )
    return {cs["cell_col"]: cells}


def _to_epoch_us(t) -> int:
    """Normalize a user-facing timestamp to epoch microseconds:
    int/float epoch seconds (fractional OK), datetime (naive = local,
    like Delta), or an ISO-8601 string."""
    import datetime as _dt

    if isinstance(t, _dt.datetime):
        return int(t.timestamp() * 1_000_000)
    if isinstance(t, str):
        return int(_dt.datetime.fromisoformat(t).timestamp() * 1_000_000)
    if isinstance(t, (int, float)):
        return int(t * 1_000_000)
    raise TypeError(f"timestamp must be seconds/datetime/ISO str, got {t!r}")


def timestamp_version(root: str, t, ref: str = "main") -> int:
    """``TIMESTAMP AS OF`` resolution (Delta/Iceberg semantics): the
    NEWEST commit on ``ref`` whose commit time is <= ``t`` — exactly
    the snapshot a reader at wall-clock ``t`` would have seen.
    ``t`` is epoch seconds (fractional OK), a datetime, or an ISO
    string; commit times compare at microsecond resolution
    (``ts_us``, strictly increasing along the chain).

    Raises ValueError when ``t`` predates the table's first commit,
    and the typed `RetentionExpired` when the target snapshot existed
    but `expire_snapshots` already dropped its manifest — the same
    contract every other historical read path gives a lagging
    consumer. Cost: O(head - answer) small JSON reads, newest-first,
    no data files open."""
    t_us = _to_epoch_us(t)
    head = current_version(root, ref)
    if not head:
        raise ValueError("empty table has no snapshots")
    oldest_readable = None
    for v in range(head, 0, -1):
        try:
            m = read_manifest(root, v, ref)
        except OSError:
            # expired below here; every older manifest is gone too
            raise RetentionExpired(
                f"no retained snapshot at or before timestamp {t!r}: "
                f"versions <= {v} were expired; oldest readable is "
                f"{oldest_readable}"
            ) from None
        oldest_readable = v
        if _manifest_ts_us(m) <= t_us:
            return v
    raise ValueError(
        f"timestamp {t!r} predates the table's first commit"
    )


def read_snapshot(
    spark: SparkSession,
    root: str,
    version: int | str | None = None,
    prune: dict | None = None,
    ref: str = "main",
    timestamp=None,
) -> DataFrame:
    """Time-travel read: the exact file list of ``version`` (default:
    current head). Empty table -> raises like a missing parquet path
    would; version 0 is not a readable snapshot.

    ``version`` may be a TAG NAME (str): it resolves through the tag
    file to the pinned trunk version — Iceberg's
    ``VERSION AS OF 'tag'``. ``ref`` names a BRANCH: the read targets
    that branch's own version chain (its head by default).

    ``prune`` = {col: (lo, hi)} applies manifest min/max file
    skipping (see `pruned_manifest_files`) — an optimization only
    valid under the caller's equivalent row filter, exactly like
    partition pruning.

    ``timestamp`` is ``TIMESTAMP AS OF``: epoch seconds / datetime /
    ISO string, resolved through `timestamp_version` to the newest
    commit at-or-before that instant (mutually exclusive with
    ``version``)."""
    if timestamp is not None:
        if version is not None:
            raise ValueError(
                "version and timestamp are mutually exclusive"
            )
        version = timestamp_version(root, timestamp, ref)
    if isinstance(version, str):
        if ref != "main":
            raise ValueError("a tag read targets the trunk; drop ref=")
        version = tag_version(root, version)
    v = current_version(root, ref) if version is None else version
    return _read_files(spark, root, read_manifest(root, v, ref), prune)


# Merge-on-read READ-AMPLIFICATION guard (parity anchor: Iceberg's
# delete-file metrics / Delta auto-compaction).
# Every commit_mor_delete_keys / commit_mor_upsert appends one
# equality-delete entry scoped to all earlier segments; readers pay
# one anti-join per entry that covers their scan until `compact`
# folds them. A month-long CDC stream that never compacts degrades
# reads silently — so the accumulation is measured
# (`read_amplification`, table_history's n_eq_delete_entries), warned
# about at this threshold by the MOR commit paths, and boundable by
# the `maybe_compact` policy hook a CDC loop calls between batches.
EQ_DELETE_ENTRIES_WARN = 16


def read_amplification(
    root: str, version: int | None = None, ref: str = "main"
) -> dict:
    """MOR read-amplification metrics for one snapshot: the delete
    structures a scan must anti-join away. ``worst_segment_entries``
    is the max count of equality-delete entries scoping any single
    live segment — the per-row anti-join depth a reader of that
    segment pays; ``compact_recommended`` trips at
    `EQ_DELETE_ENTRIES_WARN`. O(#segments + #entries) small JSON,
    no data files open."""
    v = version or current_version(root, ref)
    m = read_manifest(root, v, ref)
    eq = m.get("eq_delete_files") or []
    segs = list(m["segments"])
    seg_counts = {s: 0 for s in segs}
    for e in eq:
        for s in e["scope_segments"]:
            if s in seg_counts:
                seg_counts[s] += 1
    worst = max(seg_counts.values(), default=0)
    return {
        "version": v,
        "n_eq_delete_entries": len(eq),
        "n_pos_delete_files": len(m.get("delete_files") or []),
        "n_segments": len(segs),
        "worst_segment_entries": worst,
        "compact_recommended": len(eq) > EQ_DELETE_ENTRIES_WARN,
    }


def _warn_read_amplification(n_entries: int, root: str) -> None:
    if n_entries > EQ_DELETE_ENTRIES_WARN:
        import warnings

        warnings.warn(
            f"snapshot table {root!r} has {n_entries} accumulated "
            f"equality-delete entries (> {EQ_DELETE_ENTRIES_WARN}); "
            "readers pay one anti-join per entry covering their scan "
            "— run compact() (or wire maybe_compact into the ingest "
            "loop) to fold them",
            RuntimeWarning,
            stacklevel=3,
        )


def maybe_compact(
    spark: SparkSession,
    root: str,
    max_eq_entries: int = EQ_DELETE_ENTRIES_WARN,
    target_files: int = 32,
    cluster_by: list[str] | None = None,
) -> int | None:
    """The auto-compact POLICY HOOK: fold the head's merge-on-read
    debt iff the accumulated equality-delete entries exceed
    ``max_eq_entries`` (else no-op, None). A sustained CDC ingest
    loop calls this between batches — amortized, the table's read
    cost stays bounded at ``max_eq_entries`` anti-joins while the
    common case pays only an O(1) manifest read. Runs through
    `commit_with_retry` (compaction conflicts re-run against the new
    head)."""
    if read_amplification(root)["n_eq_delete_entries"] <= max_eq_entries:
        return None
    return commit_with_retry(
        root,
        lambda: compact(
            spark, root, target_files=target_files, cluster_by=cluster_by
        ),
    )


def table_history(spark: SparkSession, root: str) -> DataFrame:
    """The commit log as a DataFrame — Delta's ``DESCRIBE HISTORY`` /
    Iceberg's snapshots metadata table: one row per retained version
    with its op, parent, and manifest shape (segment/file counts
    resolved from metadata only — no data files open). The audit
    surface operators and humans both need: what changed, when, by
    which stream, and where a rollback points."""
    schema, rows = _history_table(root)
    return spark.createDataFrame(rows, schema)


def expire_snapshots(root: str, keep_last: int = 2) -> list[str]:
    """Retention GC: drop manifests older than the newest
    ``keep_last`` (head always kept), then delete segments and data
    files no kept manifest references. Immutability makes this a pure
    set difference, in two safety classes:

    - files/segments referenced ONLY by expired manifests were fully
      committed once — no in-flight writer can be mid-write to them —
      so they delete immediately;
    - files/segments referenced by NO manifest at all are either
      crashed-commit orphans or a commit staged between our manifest
      listing and the sweep — age-gated (serve.py's orphan idiom).

    Returns deleted paths (for tests/audit)."""
    head = current_version(root)
    if not head:
        return []
    versions = sorted(
        int(name[1:-5])
        for name in os.listdir(_meta_dir(root))
        if name.startswith("v") and name.endswith(".json")
    )
    keep = {v for v in versions if v > head - keep_last} | {head}
    # tags PIN their trunk version through retention (the
    # reproducibility contract): a tagged manifest and everything it
    # references stay live until drop_tag
    keep |= {v for v in list_tags(root).values() if v in set(versions)}
    live: set[str] = set()
    expired_refs: set[str] = set()
    live_segs: set[str] = set()
    expired_segs: set[str] = set()
    for v in versions:
        m = read_manifest(root, v)
        eq_entries = m.get("eq_delete_files") or []
        refs_v = (
            manifest_files(root, m)
            + list(m.get("delete_files") or [])
            + [f for e in eq_entries for f in e["files"]]
        )
        (live if v in keep else expired_refs).update(refs_v)
        # equality-delete SCOPE segments stay live with the manifest
        # carrying them: readers resolve scope file names through the
        # segment JSON even after a COW rewrite dropped the segment
        # from the data list
        segs_v = list(m["segments"]) + [
            s for e in eq_entries for s in e["scope_segments"]
        ]
        (live_segs if v in keep else expired_segs).update(segs_v)
    # every BRANCH manifest is live by definition (branches are
    # dropped explicitly, never expired): their files/segments must
    # survive the sweep even when no trunk version references them
    for bname, bhead in list_branches(root).items():
        for bv in range(1, bhead + 1):
            try:
                bm = read_manifest(root, bv, bname)
            except OSError:
                continue  # racing drop_branch
            live.update(manifest_files(root, bm))
            live.update(bm.get("delete_files") or [])
            beq = bm.get("eq_delete_files") or []
            live.update(f for e in beq for f in e["files"])
            live_segs.update(bm["segments"])
            live_segs.update(s for e in beq for s in e["scope_segments"])
    deleted: list[str] = []
    for v in versions:
        if v not in keep:
            os.remove(_manifest_path(root, v))
            deleted.append(f"meta/v{v}.json")
    now = time.time()
    # segment JSONs: same two safety classes as data files
    for name in sorted(os.listdir(_meta_dir(root))):
        if not (name.startswith("s-") and name.endswith(".json")):
            continue
        seg = name[:-5]
        if seg in live_segs:
            continue
        p = os.path.join(_meta_dir(root), name)
        if seg not in expired_segs and (
            now - os.stat(p).st_mtime < _ORPHAN_AGE_SEC
        ):
            continue  # possibly a commit in flight: age-gated
        os.remove(p)
        deleted.append(f"meta/{name}")
    data_root = os.path.join(root, _DATA)
    for d in sorted(os.listdir(data_root)):
        ddir = os.path.join(data_root, d)
        if not os.path.isdir(ddir):
            continue
        # RECURSIVE sweep: partitioned commits nest parquet under
        # _p_<col>=<val>/ subdirs, so rel paths must be computed at
        # any depth — a top-level-only listing would both miss expired
        # nested files and (worse) see "no parquet here" for a live
        # partitioned dir.
        swept_expired = False
        for base, _dirs, names in os.walk(ddir):
            for name in sorted(names):
                full = os.path.join(base, name)
                rel = os.path.relpath(full, root).replace(os.sep, "/")
                if rel in live:
                    continue
                if rel not in expired_refs and (
                    not name.endswith(".parquet")
                    or now - os.stat(full).st_mtime < _ORPHAN_AGE_SEC
                ):
                    continue
                os.remove(full)
                deleted.append(rel)
                swept_expired = swept_expired or rel in expired_refs
        # a dir with no parquet left AT ANY DEPTH holds only write
        # markers (_SUCCESS, empty partition dirs) — reclaim it whole.
        # Gate: an in-flight _write_data_files dir ALSO has no
        # committed parquet yet (only _temporary/), so a dir is
        # reclaimed only when we just emptied it of once-committed
        # expired files (that write finished long ago — data dirs are
        # write-once) or it has aged past the same orphan gate the
        # per-file sweep uses. Any surviving parquet (live or a
        # young orphan) vetoes the reclaim regardless of age.
        any_parquet = any(
            n.endswith(".parquet")
            for _b, _ds, ns in os.walk(ddir)
            for n in ns
        )
        if not any_parquet and (
            swept_expired or now - os.stat(ddir).st_mtime >= _ORPHAN_AGE_SEC
        ):
            shutil.rmtree(ddir, ignore_errors=True)
    return deleted


def vacuum(root: str, keep_last: int = 2) -> list[str]:
    """Full table maintenance (public op): retention
    GC via `expire_snapshots` (manifests + segments + data files under
    the documented age gates) PLUS reclamation of dead writers'
    staging scratch — ``*.tmp-<pid>-*`` files a crashed `_commit` left
    in the meta dir, pid-liveness-gated exactly like streaming/ivf.py
    scratch (a live pid's tmp is an in-flight commit stage; hands
    off). Returns every reclaimed path.

    Safety ledger, matching the module's crash contract:
    - retained versions are untouched (every file/segment they
      reference survives — `expire_snapshots` computes the live set
      from ALL kept manifests first);
    - a crashed pre-link commit = orphan data dir + orphan segment
      JSON + (possibly) a tmp manifest: the first two age-gate, the
      tmp is reclaimed as soon as its owner pid is gone;
    - nothing younger than the age gate and unreferenced is touched —
      it may be the staging of a commit racing this vacuum."""
    deleted = expire_snapshots(root, keep_last=keep_last)
    meta = _meta_dir(root)
    try:
        names = os.listdir(meta)
    except OSError:
        return deleted
    for name in names:
        if ".tmp-" not in name:
            continue
        pid_str = name.rpartition(".tmp-")[2].split("-", 1)[0]
        if pid_str.isdigit():
            try:
                os.kill(int(pid_str), 0)
                continue  # owner alive: commit stage in flight
            except ProcessLookupError:
                pass  # dead owner — reclaim
            except PermissionError:
                continue  # alive under another uid — hands off
        try:
            os.remove(os.path.join(meta, name))
            deleted.append(f"meta/{name}")
        except OSError:
            pass
    return deleted


def _find_stream_commit(root: str, stream_id: str, batch_id: int) -> int | None:
    """Version already holding this (stream, batch), or None. Scan is
    O(retained versions) of small JSON — the idempotence ledger is the
    manifest history itself, no side state to drift."""
    try:
        names = os.listdir(_meta_dir(root))
    except OSError:
        return None
    for name in sorted(names, reverse=True):
        if not (name.startswith("v") and name.endswith(".json")):
            continue
        m = read_manifest(root, int(name[1:-5]))
        if m.get("stream_id") == stream_id and m.get("batch_id") == batch_id:
            return m["version"]
    return None


def commit_with_retry(
    root: str,
    build_fn,
    max_attempts: int = 8,
    base_backoff_sec: float = 0.05,
) -> int:
    """Optimistic-commit retry loop (public): call
    ``build_fn()`` — any commit operation that re-reads the head
    itself, e.g. ``lambda: commit_append(spark, root, df)`` — and on
    ConcurrentCommit retry with bounded exponential backoff + jitter
    (decorrelates N writers hammering the same head). Raises the final
    ConcurrentCommit after ``max_attempts`` losses.

    Data written by a losing attempt is immutable orphan files that
    `vacuum` age-gates away — correctness never depends on cleanup.
    Append-heavy paths that want write-once data across retries should
    use `snapshot_sink`'s internal loop, which stages files once and
    retries only the O(#segments) commit."""
    for attempt in range(max_attempts):
        try:
            return build_fn()
        except ConcurrentCommit:
            if attempt == max_attempts - 1:
                raise
            time.sleep(
                base_backoff_sec * (2**attempt) * (0.5 + random.random())
            )
    raise AssertionError("unreachable")


def _commit_segments_with_retry(
    root: str, op: str, files: list[str], build, ref: str = "main"
) -> int:
    """The commit loop for ALREADY-WRITTEN ``files`` (the DataSource
    writers and `snapshot_sink`): each attempt reads the head and calls
    ``build(parent_manifest) -> (carried segments, extra)``; the files'
    segment is staged ONCE, under the first attempt's extra, and every
    retry re-links an O(#segments) commit file on the new head. Data
    and segment are written once; only the carried prefix and the
    inherited metadata change.

    Because ``build`` derives ``extra`` from the CURRENT parent on
    every attempt (`_inherit`), a stats/bloom opt-in or column-ID
    mapping that a concurrent commit establishes before the winning
    retry is inherited — "once set, never silently lapses" holds under
    the race. The staged segment may then lack stats or blooms for
    the newly inherited columns: stats-less files are conservatively
    never skipped."""
    seg = None
    while True:
        parent = current_version(root, ref)
        pm = read_manifest(root, parent, ref) if parent else {}
        carried, extra = build(pm)
        if seg is None:
            seg = _new_segment(root, files, extra)
        try:
            return _commit(root, parent, op, carried + seg, extra, ref)
        except ConcurrentCommit:
            continue


def snapshot_sink(root: str, stream_id: str):
    """foreachBatch writer committing each micro-batch as a snapshot
    append with EXACTLY-ONCE semantics: the manifest records
    (stream_id, batch_id), and a re-delivered batch (crash between
    the manifest link and the checkpoint commit) is recognized and
    skipped. A crash between the data write and the manifest link
    re-runs the batch — the first attempt's files are unreferenced
    orphans, never double-counted. A batch that drops or retypes a
    committed column raises `SchemaEvolutionError`, like any append.
    Usage:

        stream.writeStream.foreachBatch(snapshot_sink(root, sid))
              .option("checkpointLocation", ckpt)
              .trigger(availableNow=True).start()
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _find_stream_commit(root, stream_id, batch_id) is not None:
            return  # re-delivered after a post-commit crash
        create_table(root)
        head = current_version(root)
        hm = read_manifest(root, head) if head else {}
        files = _write_data_files(batch_df, root, hm.get("partition_spec"))
        fields = _fields(batch_df)

        def build(pm: dict) -> tuple[list[str], dict]:
            _check_add_only_fields(pm, fields)
            extra = _inherit(
                pm, fields, stream_id=stream_id, batch_id=batch_id
            )
            return pm.get("segments", []), extra

        _commit_segments_with_retry(root, "append", files, build)

    return write_batch


def upsert_sink(
    root: str,
    stream_id: str,
    key_cols: list[str],
    max_eq_entries: int | None = None,
):
    """foreachBatch writer applying each micro-batch as a MERGE-ON-READ
    UPSERT (`commit_mor_upsert`) with the same EXACTLY-ONCE ledger as
    `snapshot_sink`: the manifest records (stream_id, batch_id), so a
    batch re-delivered after a post-commit crash is recognized and
    skipped, and a crash before the commit re-runs the batch with the
    first attempt's files left as vacuum-able orphans. THE streaming
    CDC apply: per batch, O(batch) data + O(keys) delete rows, never
    a table scan — where a COW merge sink would rewrite affected
    files every micro-batch.

    Retries on ConcurrentCommit re-run the full upsert against the
    new head (the delete SCOPE must be recomputed, so the cheap
    segment-only retry of the append sink does not apply).

    ``max_eq_entries`` wires the READ-AMPLIFICATION policy into the
    loop itself: after each batch commit, `maybe_compact` folds the
    accumulated equality-delete entries whenever they exceed the
    bound — so a month-long CDC stream's read cost stays bounded at
    ``max_eq_entries`` anti-joins without an external maintenance
    job. The common under-threshold case pays one O(1) manifest
    read; the fold is idempotent against replays (a re-delivered
    batch skips its commit, and compacting an already-folded head is
    a no-op below threshold)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _find_stream_commit(root, stream_id, batch_id) is None:
            commit_with_retry(
                root,
                lambda: commit_mor_upsert(
                    spark,
                    root,
                    batch_df,
                    key_cols,
                    extra_meta={
                        "stream_id": stream_id,
                        "batch_id": batch_id,
                    },
                )
            )
        if max_eq_entries is not None:
            maybe_compact(spark, root, max_eq_entries=max_eq_entries)

    return write_batch


def ingest_stream(
    stream: DataFrame, root: str, checkpoint_dir: str, stream_id: str
) -> None:
    """Drain an availableNow stream into the snapshot table — each
    micro-batch one committed, replay-idempotent version."""
    (
        stream.writeStream.foreachBatch(snapshot_sink(root, stream_id))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def compact(
    spark: SparkSession,
    root: str,
    target_files: int = 1,
    cluster_by: list[str] | None = None,
    cell_col: str = "zcell",
    sort_by: list[str] | None = None,
) -> int:
    """Small-files maintenance: rewrite the head snapshot's files into
    ``target_files`` (one fresh segment), commit as op=compact with
    the IDENTICAL row set. Readers pinned to older versions keep
    their files (retention GC reclaims them later); concurrent appends
    are preserved — if the head moves mid-compaction, the retry
    carries every segment added since the compacted parent instead of
    silently dropping it.

    ``cluster_by=[a, b]`` (Delta OPTIMIZE ZORDER's shape) makes the fold a Z-ORDER-CLUSTERED rewrite: an 8-bit
    Morton cell over the two NON-NEGATIVE INTEGER columns (shifts
    derived from the data's maxima, `layout.zorder_shifts`) becomes a
    derived partition column ``cell_col``, the rewrite lands one file
    per cell, and the commit records BOTH the identity partition spec
    on the cell AND a ``cluster_spec`` {cols, shifts, cell_col} — so
    later box queries decompose their rectangle with
    `clustered_prune` / `layout.zcells_for_box` against the RECORDED
    shifts (build and probe can never drift) and `read_snapshot`'s
    ``prune`` skips every non-intersecting file from metadata alone.
    The committed schema gains the cell column (mirror-column layout,
    like any caller-derived partition column).

    Conflict rule (Delta/Iceberg shape): a concurrent commit that
    REMOVED any base file (a COW delete, or another compaction)
    invalidates the rewrite — the rewritten data was built from the
    pre-delete base, so committing it would silently resurrect the
    deleted rows. That conflict raises ConcurrentCommit; the caller
    re-runs compaction against the new head (`commit_with_retry`
    wraps exactly this)."""
    parent = current_version(root)
    if not parent:
        raise ValueError("cannot compact an empty table")
    base_manifest = read_manifest(root, parent)
    base_segs = set(list(base_manifest["segments"]))
    base_files = set(manifest_files(root, base_manifest))
    df = _read_files(spark, root, base_manifest)
    spec = base_manifest.get("partition_spec") or []
    cluster_spec = None
    if cluster_by:
        from metastore_spark.layout import zorder_cell, zorder_shifts

        a, b = cluster_by
        mx = df.agg(F.max(a), F.max(b)).first()
        a_shift, b_shift = zorder_shifts(int(mx[0]), int(mx[1]))
        df = df.drop(cell_col).withColumn(
            cell_col,
            zorder_cell(F.col(a), F.col(b), a_shift, b_shift),
        )
        spec = [cell_col]
        cluster_spec = {
            "cols": [a, b],
            "shifts": [a_shift, b_shift],
            "cell_col": cell_col,
        }
        rewritten = _write_data_files(df.repartition(*spec), root, spec)
    elif spec:
        # layout-preserving fold: cluster by the partition tuple so
        # the rewrite lands one file per partition value (the small-
        # files fix WITHIN the spec, like Iceberg rewrite_data_files
        # honoring the table's spec); target_files bounds nothing
        # here — file count is the live partition count. sort_by adds
        # a within-partition sort (Iceberg's sort order inside spec).
        folded = df.repartition(*spec)
        if sort_by:
            folded = folded.sortWithinPartitions(*sort_by)
        rewritten = _write_data_files(folded, root, spec)
    elif sort_by:
        # SORTED fold (Iceberg rewrite with a sort order / Delta
        # OPTIMIZE+sort): range-partition on the sort key so the
        # rewritten files carry DISJOINT min/max ranges — after this,
        # range probes (`prune={col: (lo, hi)}`) skip all but the
        # covering files from stats alone. The linear-key complement
        # to Z-order clustering (which trades per-key locality for
        # multi-column boxes).
        rewritten = _write_data_files(
            df.repartitionByRange(target_files, *sort_by)
            .sortWithinPartitions(*sort_by),
            root,
        )
    else:
        rewritten = _write_data_files(df.coalesce(target_files), root)
    # the fold physically rewrites rows under the base's COMMITTED
    # schema (+ the cluster cell column) — evolution collapses out of
    # the rewritten files
    written = _fields(df)
    folded = _new_segment(
        root,
        rewritten,
        _inherit(base_manifest, written, partition_spec=spec),
    )
    while True:
        head = current_version(root)
        head_manifest = read_manifest(root, head)
        head_segs = list(head_manifest["segments"])
        head_files = set(manifest_files(root, head_manifest))
        removed = base_files - head_files
        if removed:
            raise ConcurrentCommit(
                f"{len(removed)} base file(s) were removed by a "
                "concurrent commit (delete/compact); committing this "
                "rewrite would resurrect their deleted rows — re-run "
                "compaction on the new head"
            )
        # same rule for merge-on-read: the fold was computed under the
        # BASE's position-delete set, and compaction deliberately
        # clears delete_files — a delete-mor that landed since would
        # silently resurrect its rows inside the fold
        if set(head_manifest.get("delete_files") or []) != set(
            base_manifest.get("delete_files") or []
        ):
            raise ConcurrentCommit(
                "position deletes changed under this compaction "
                "(concurrent commit_mor_delete); committing the fold "
                "would resurrect the deleted rows — re-run compaction "
                "on the new head"
            )
        # same rule for equality deletes: the fold applied the BASE's
        # key sets and clears eq_delete_files on commit
        if json.dumps(
            head_manifest.get("eq_delete_files") or [], sort_keys=True
        ) != json.dumps(
            base_manifest.get("eq_delete_files") or [], sort_keys=True
        ):
            raise ConcurrentCommit(
                "equality deletes changed under this compaction "
                "(concurrent commit_mor_delete_keys); committing the "
                "fold would resurrect the deleted rows — re-run "
                "compaction on the new head"
            )
        # segments added since the compacted base
        added_segs = [s for s in head_segs if s not in base_segs]
        fields = head_manifest["schema"]["fields"]
        if cluster_spec is not None:
            # clustered fold: the committed schema is the head's plus
            # the derived cell column
            fields = [f for f in fields if f["name"] != cell_col] + [
                f for f in written if f["name"] == cell_col
            ]
        extra = _inherit(
            head_manifest,
            fields,
            clear=("delete_files", "eq_delete_files"),
            # a clustered fold records the cell as the spec, and shifts
            partition_spec=spec if cluster_spec else None,
            cluster_spec=cluster_spec,
            sort_spec=list(sort_by) if sort_by else None,
        )
        try:
            return _commit(
                root,
                head,
                "compact",
                folded + added_segs,
                extra,
            )
        except ConcurrentCommit:
            continue


def _retention_floor(root: str, head: int) -> int:
    """Oldest checkpoint a changelog consumer may hold: derived from
    the CONTIGUOUS run of retained manifests ending at head. A
    tag-pinned island older than the run does not extend the window —
    the versions between island and run are unreconstructable."""
    retained = sorted(
        int(n[1:-5])
        for n in os.listdir(_meta_dir(root))
        if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()
    )
    oldest = head
    for v in reversed(retained):
        if v in (oldest, oldest - 1):
            oldest = v
        elif v < oldest:
            break
    return 0 if oldest <= 1 else oldest


def _append_delta(root: str, m: dict, pm: dict) -> dict | None:
    """Sub-manifest carrying EXACTLY the rows an append commit added
    over its parent ``pm`` (``{}`` for the first commit), or None when
    it added nothing: its new segments, by name diff. The ONE place
    the append diff lives — `read_appends`, `read_changes`, and the
    streaming data source all consume it.

    Carried ``delete_files``/``eq_delete_files`` are popped: position
    deletes can only reference files that PREDATE this commit's own
    new rows, and equality deletes scope to segments that predate them
    too, so the anti-joins would match nothing — appends-feed
    semantics anyway serve rows AS OF their append."""
    parent_segs = set(pm.get("segments", []))
    new_segs = [s for s in m["segments"] if s not in parent_segs]
    if not new_segs:
        return None
    sub = dict(m)
    sub["segments"] = new_segs
    sub.pop("delete_files", None)
    sub.pop("eq_delete_files", None)
    return sub


def read_appends(
    spark: SparkSession,
    root: str,
    since_version: int,
    until_version: int | None = None,
) -> DataFrame:
    """Incremental consumption (Delta CDF's append slice, the shape a
    downstream training pipeline checkpoints on): the rows APPENDED by
    commits in ``(since_version, until_version]`` — each append/stream
    commit contributes exactly its own new segments, so the read costs
    O(delta files), never a table scan or a row-level diff.

    Op-aware by construction: compact rewrites carry no new rows and
    contribute nothing; COW deletes likewise (their rewritten
    survivors are not appends). Rows are returned AS OF their append —
    a later delete does not retract them from this feed (consumers
    needing erasure-compliant replays read snapshots, not the
    changelog). Schema evolution unions by name with null-fill, so a
    consumer sees the widest schema across its window.

    Raises `RetentionExpired` (typed, naming the oldest readable
    checkpoint) when the window needs manifests `expire_snapshots`
    already deleted — the Delta CDF contract, instead of a raw
    FileNotFoundError. Reconstructing version v's appends also reads v-1 (the
    parent diff), so the oldest readable CHECKPOINT equals the oldest
    retained manifest (or 0 when the full history survives)."""
    head = current_version(root)
    until = head if until_version is None else until_version
    min_since = _retention_floor(root, head)
    if since_version < min_since:
        raise RetentionExpired(
            f"changelog window ({since_version}, {until}] is behind the "
            "retention horizon: older manifests were expired; oldest "
            f"readable checkpoint is {min_since} — reseed from a "
            "snapshot read"
        )
    parts: list[DataFrame] = []
    for v in range(since_version + 1, until + 1):
        m = read_manifest(root, v)
        if m["op"] != "append":
            continue
        pm = read_manifest(root, m["parent"]) if m["parent"] else {}
        sub = _append_delta(root, m, pm)
        if sub is None:
            continue
        parts.append(_read_files(spark, root, sub))
    if not parts:
        # empty window: an empty frame under the window-end schema
        return _read_files(spark, root, read_manifest(root, until)).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out

def _align_to(df: DataFrame, manifest: dict) -> DataFrame:
    """Project a frame onto a manifest's committed schema (add-only:
    missing columns null-fill; column order normalized)."""
    schema = StructType.fromJson(manifest["schema"])
    have = set(df.columns)
    return df.select(
        *[
            F.col(f.name)
            if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def read_changes(
    spark: SparkSession,
    root: str,
    since_version: int,
    until_version: int | None = None,
) -> DataFrame:
    """ROW-LEVEL CHANGE FEED (Delta Change Data Feed's shape): every
    row inserted or deleted by the commits in ``(since, until]``,
    tagged ``_change_type`` ('insert' | 'delete') and
    ``_commit_version``. An update (merge/overwrite restatement)
    appears as its delete+insert pair — the keyless-general encoding;
    consumers with a key reconstruct updates by joining the pair. A
    physically-rewritten but value-identical row cancels out of the
    multiset diff, so rewrite-only commits (including value-identical
    restatements) are feed-silent, exactly like compaction.

    O(delta) by construction, never a table diff:
    - append commits contribute their new segments as inserts;
    - COW commits (delete / merge / overwrite) diff ONLY the affected
      files — removed originals vs added rewrites, a multiset
      `exceptAll` over the file subsets (survivor rows cancel);
    - merge-on-read deletes read just the NEW position files and
      semi-join the referenced data files — the deleted rows exactly;
    - compact / evolve are logical no-ops and contribute nothing;
    - rollback / publish RESTATE history non-linearly: a window
      containing one raises ValueError — consumers reseed from a
      snapshot read (Delta CDF's contract for RESTORE).

    Same retention contract as `read_appends`: a window behind the
    contiguous retained run raises `RetentionExpired`."""
    head = current_version(root)
    until = head if until_version is None else until_version
    min_since = _retention_floor(root, head)
    if since_version < min_since:
        raise RetentionExpired(
            f"change window ({since_version}, {until}] is behind the "
            "retention horizon: older manifests were expired; oldest "
            f"readable checkpoint is {min_since} — reseed from a "
            "snapshot read"
        )
    parts: list[DataFrame] = []

    def tag(df: DataFrame, kind: str, v: int) -> DataFrame:
        return df.select(
            F.lit(kind).alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
            "*",
        )

    for v in range(since_version + 1, until + 1):
        m = read_manifest(root, v)
        pm = read_manifest(root, m["parent"]) if m["parent"] else {}
        op = m["op"]
        if op in ("rollback", "publish"):
            raise ValueError(
                f"v{v} is a {op}: history was restated non-linearly; "
                "reseed from a snapshot read instead of the change feed"
            )
        if op == "append":
            sub = _append_delta(root, m, pm)
            if sub is None:
                continue
            parts.append(tag(_read_files(spark, root, sub), "insert", v))
        elif op == "delete-mor":
            new_dels = [
                f
                for f in (m.get("delete_files") or [])
                if f not in set(pm.get("delete_files") or [])
            ]
            if not new_dels:
                continue
            pos = spark.read.parquet(
                *[os.path.join(root, f) for f in new_dels]
            )
            by_name = {
                os.path.basename(f): f for f in manifest_files(root, pm)
            }
            hit_files = {
                by_name[r["file_name"]]
                for r in pos.select("file_name").distinct().collect()
                if r["file_name"] in by_name
            }
            live = _read_files(
                spark, root, pm, with_pos=True, only_files=hit_files
            )
            deleted = (
                live.join(
                    pos,
                    (live["_mor_file"] == pos["file_name"])
                    & (live["_mor_pos"] == pos["pos"]),
                    "left_semi",
                )
                .drop("_mor_file", "_mor_pos")
            )
            parts.append(tag(deleted, "delete", v))
        elif op in ("delete-mor-eq", "upsert-mor"):
            prev_n = len(pm.get("eq_delete_files") or [])
            for entry in (m.get("eq_delete_files") or [])[prev_n:]:
                keys = (
                    spark.read.parquet(
                        *[os.path.join(root, f) for f in entry["files"]]
                    )
                    .select(*entry["cols"])
                    .dropDuplicates()
                )
                scope_files: set[str] = set()
                for s in entry["scope_segments"]:
                    scope_files.update(_read_segment(root, s))
                # parent read applies the parent's OWN deletes, so
                # rows this commit retracts are exactly the still-live
                # scoped rows matching the new key set
                live_rows = _read_files(
                    spark, root, pm, only_files=scope_files
                )
                deleted = live_rows.join(
                    keys, on=entry["cols"], how="left_semi"
                )
                parts.append(tag(deleted, "delete", v))
            if op == "upsert-mor":
                # insert leg: the commit's own new segment(s); an
                # update surfaces as its delete+insert pair (Delta
                # CDF's keyless-general encoding)
                sub = _append_delta(root, m, pm)
                if sub is not None:
                    parts.append(
                        tag(
                            _align_to(_read_files(spark, root, sub), m),
                            "insert",
                            v,
                        )
                    )
        elif op in ("delete", "merge", "overwrite"):
            pm_files = set(manifest_files(root, pm))
            m_files = set(manifest_files(root, m))
            removed = pm_files - m_files
            added = m_files - pm_files
            old = new = None
            if removed:
                old = _align_to(
                    _read_files(spark, root, pm, only_files=removed), m
                )
            if added:
                new = _read_files(spark, root, m, only_files=added)
            if old is not None and new is not None:
                parts.append(tag(old.exceptAll(new), "delete", v))
                parts.append(tag(new.exceptAll(old), "insert", v))
            elif old is not None:
                parts.append(tag(old, "delete", v))
            elif new is not None:
                parts.append(tag(new, "insert", v))
        # compact / evolve / branch bookkeeping: no logical change
    if not parts:
        base = _read_files(
            spark, root, read_manifest(root, until)
        ).limit(0)
        return base.select(
            F.lit("insert").alias("_change_type"),
            F.lit(0).cast("long").alias("_commit_version"),
            "*",
        ).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out
