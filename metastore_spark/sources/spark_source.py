"""The snapshot table format as a FIRST-CLASS Spark data source.

Registers a Python DataSource (Spark 4 ``pyspark.sql.datasource``)
named ``snapshot`` so the format plugs into the standard reader APIs
instead of a library call:

    spark.dataSource.register(SnapshotDataSource)
    spark.read.format("snapshot").load(root)                  # head
    spark.read.format("snapshot").option("version", 3).load(root)
    spark.read.format("snapshot").option("version", "prod").load(root)
    spark.read.format("snapshot").option("ref", "audit").load(root)
    spark.read.format("snapshot")                             # AS OF
         .option("timestamp", "2026-08-16T12:00:00").load(root)
    (spark.readStream.format("snapshot").load(root)            # tail
         .writeStream...)                                      # the feed

    spark.read.format("snapshot")                             # metadata
         .option("metadata", "history").load(root)            # tables:
    # history | files | partitions | refs | amplification — the
    # library's table_history/table_files/table_partitions/table_refs/
    # read_amplification served through the reader (Iceberg's
    # snapshots/files/partitions/refs metadata tables)

    df.write.format("snapshot").mode("append").save(root)     # commit
    df.write.format("snapshot").mode("overwrite").save(root)  # replace
    (df.writeStream.format("snapshot")                         # sink
       .option("stream_id", "ingest-1")                       # ledger
       .option("checkpointLocation", ckpt).start(root))
    # CDC apply: .option("mode", "upsert").option("keys", "id")

Batch reads plan through the same `snapshots.plan_scan` as
`snapshots.read_snapshot` — committed schema, column-ID evolution
mapping per file, merge-on-read position and equality deletes — but
execute as packed slices of data files (one InputPartition per
~32 MiB of input, `_slice_target_bytes`) with a pyarrow worker-side
kernel: the slice reads its position-delete set once, masks each
file's deleted positions before projection, and prunes columns to
the projection.

The STREAM reader makes the commit log a Structured Streaming source
with snapshot VERSIONS as offsets: `initialOffset` starts at 0 (or
``option("since", v)``), `latestOffset` is the trunk head, and each
micro-batch reads exactly the new segments of the append commits in
``(start, end]`` — `snapshots.read_appends`' contract (deletes /
compactions / publishes contribute nothing; rows are served AS OF
their append). Offsets live in Spark's checkpoint, so restart resumes
exactly-once without any side ledger; a checkpoint that fell behind
retention fails the stream with `RetentionExpired` rather than a
silent gap.

Scale shape: offset resolution and partition planning are O(window
manifests) of small JSON on the driver; data movement is one arrow
read per NEW file, pruned to the projected columns. This is the
"table format as streaming source" design of Delta's source /
Iceberg's incremental scan, expressed through Spark's public Python
DataSource API.

PERF ASYMMETRY (deliberate): this source reads parquet per-file via
pyarrow inside Python workers — the Spark 4 Python DataSource API's
shape — so it is the INTEROP surface, not the fast path. Library
reads (`snapshots.read_snapshot`) scan through Spark's JVM parquet
reader with whole-stage codegen and are what the serving layer uses.
File skipping IS available here: ``option("prune.<col>", "lo,hi")``
range bounds and ``option("prune_in.<col>", "a,b,c")`` value sets
resolve manifest min/max stats, partition tuples, and bloom filters
before planning, so a pruned scan plans strictly fewer input
partitions (same caller-owed row-filter contract as read_snapshot's
``prune``).

The WRITE path is symmetric: executor tasks stage parquet via
pyarrow (`_write_task` — hive partition layout, per-task distinct-key
sidecars for upserts) and the driver links the staged files into one
atomic manifest commit (`snapshots.commit_append_files` /
`commit_overwrite_files` / `commit_mor_upsert_files`), so data never
passes through the driver and a failed job leaves only vacuum-able
orphans. The streaming sink carries the same (stream_id, batch_id)
exactly-once ledger as the library's `snapshot_sink`/`upsert_sink`.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from metastore_spark.sources import snapshots as snap


class _FileSlice(InputPartition):
    """One scan task: a byte-target PACK of data files plus everything
    the worker kernel needs — the target schema (JSON), the manifest's
    column-ID map, the snapshot's position-delete files, and per file
    its write-time column metadata and the equality-delete entries
    whose scope covers it (resolved driver-side; [{paths, cols}]
    JSON). ``items`` is [(path, columns_json, eq_json)]; files are
    packed to ``_slice_target_bytes()`` per task (one task per tiny
    file paid pure scheduling overhead on micro-batch-sized commits,
    while at scale right-sized files pack one-per-slice and
    parallelism is unchanged)."""

    def __init__(self, items, schema_json, ids_json, delete_paths):
        self.items = items
        self.schema_json = schema_json
        self.ids_json = ids_json
        self.delete_paths = delete_paths


def _slice_target_bytes() -> int:
    """Per-task input pack target for the DataSource scan, in on-disk
    parquet bytes. Parameterised for deployments (SPARK_GRAFT_SLICE_MB);
    the 32 MiB local default keeps sf-fixture scans to a handful of
    tasks while any production-sized (128 MB+) file still gets its own
    task. ``0`` plans one file per slice; a negative or non-integer
    value raises ValueError rather than silently planning either."""
    raw = os.environ.get("SPARK_GRAFT_SLICE_MB", "32")
    if not raw.strip().isdecimal():
        raise ValueError(
            f"SPARK_GRAFT_SLICE_MB={raw!r}: expected a non-negative integer"
        )
    return int(raw) << 20


def _arrow_read(part: _FileSlice):
    """Worker kernel: parquet -> (MOR mask) -> ID/name projection ->
    arrow batches matching the target schema exactly, one packed file
    at a time; the slice's position-delete files are read once and
    filtered per file. Runs inside the Python data source executor;
    imports stay local."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    schema = StructType.fromJson(json.loads(part.schema_json))
    ids = json.loads(part.ids_json) if part.ids_json else None
    dels = (
        pq.read_table(part.delete_paths, columns=["file_name", "pos"])
        if part.delete_paths
        else None
    )
    for path, columns_json, eq_json in part.items:
        cols_meta = json.loads(columns_json) if columns_json else None
        by_id = (
            {v["id"]: name for name, v in cols_meta.items()}
            if cols_meta
            else {}
        )

        def src_of(field_name: str):
            if ids and by_id:
                return by_id.get(ids.get(field_name))
            return field_name

        present = set(pq.ParquetFile(path).schema_arrow.names)
        wanted = [
            s
            for s in (src_of(f.name) for f in schema.fields)
            if s is not None and s in present
        ]
        tbl = pq.read_table(path, columns=wanted)  # column pruning
        if dels is not None:
            fname = os.path.basename(path)
            pos = dels.filter(pc.equal(dels["file_name"], fname))["pos"]
            if len(pos):
                keep = pa.array(
                    ~_positions_mask(pos.to_pylist(), tbl.num_rows)
                )
                tbl = tbl.filter(keep)
        arrays, names = [], []
        for f in schema.fields:
            target = to_arrow_type(f.dataType)
            s = src_of(f.name)
            if s is not None and s in tbl.column_names:
                col = tbl[s].combine_chunks()
                if col.type != target:
                    col = col.cast(target)  # widen (e.g. int32 -> int64)
            else:
                col = pa.nulls(tbl.num_rows, target)
            arrays.append(col)
            names.append(f.name)
        out = pa.table(arrays, names=names)
        # equality deletes scoped to this file: anti-join the key sets
        # on the PROJECTED (committed-name) frame — keys bind committed
        # names at their commit time; rename/drop of a referenced key
        # column is blocked while the delete is live, and a WIDENED key
        # column's narrow write-time key type is cast up to the
        # projected type before the join (lossless for every legal
        # widening, matching the JVM path's implicit coercion)
        for entry in json.loads(eq_json) if eq_json else []:
            keys = pq.read_table(entry["paths"], columns=entry["cols"])
            for c in entry["cols"]:
                want = out.schema.field(c).type
                if keys.schema.field(c).type != want:
                    keys = keys.set_column(
                        keys.column_names.index(c),
                        c,
                        keys[c].cast(want),
                    )
            out = out.join(
                keys, keys=entry["cols"], join_type="left anti"
            )
        yield from out.to_batches(max_chunksize=8192)


def _positions_mask(positions, n):
    import numpy as np

    m = np.zeros(n, dtype=bool)
    idx = np.asarray(positions, dtype="int64")
    m[idx[idx < n]] = True
    return m


def _slices_for_manifest(
    root: str, manifest: dict, schema_json: str, prune: dict | None = None
) -> list[_FileSlice]:
    """Driver-side packing of `snapshots.plan_scan`'s files into
    byte-target slices (greedy, manifest order — deterministic under
    task retries), each file carrying its write-time column mapping
    and its covering equality-delete entries; the snapshot's position
    delete files ride at the slice level. Packing bounds the task
    count by input bytes instead of file count: a micro-batch-commit
    table with dozens of KB-sized files plans a handful of tasks,
    while production-sized files still land one per slice. File sizes
    come from the local filesystem (metadata stat, no open); a missing
    file costs nothing here — the read itself reports it."""
    ids_json = (
        json.dumps(manifest["column_ids"])
        if manifest.get("column_ids")
        else None
    )
    plan = snap.plan_scan(root, manifest, prune)
    delete_paths = [os.path.join(root, f) for f in plan.pos_deletes]
    eq = [
        {"paths": [os.path.join(root, f) for f in paths], "cols": cols}
        for paths, cols in plan.eq_deletes
    ]
    target = _slice_target_bytes()
    out: list[_FileSlice] = []
    pack: list[tuple[str, str | None, str | None]] = []
    packed = 0
    for f, mapping, eq_idx in plan.files:
        path = os.path.join(root, f)
        try:
            size = os.path.getsize(path)
        except OSError:
            size = target  # unknown -> own slice; the read reports it
        if pack and packed + size > target:
            out.append(_FileSlice(pack, schema_json, ids_json, delete_paths))
            pack, packed = [], 0
        pack.append(
            (
                path,
                json.dumps(mapping) if mapping else None,
                json.dumps([eq[i] for i in eq_idx]) if eq_idx else None,
            )
        )
        packed += size
    if pack:
        out.append(_FileSlice(pack, schema_json, ids_json, delete_paths))
    return out


def _nullable_schema_json(schema_obj: dict) -> dict:
    """The committed schema with every top-level field nullable.

    Parquet reads are always nullable in Spark's own scan (a user
    schema's nullable=false is advisory there), and add-only evolution
    null-fills files written before a column existed — but the
    DataSource path ENFORCES declared nullability in the arrow
    exchange, so a non-nullable committed flag would crash the very
    null-fill the format guarantees. Declare the truth instead."""
    out = json.loads(json.dumps(schema_obj))
    for f in out.get("fields", []):
        f["nullable"] = True
    return out


def _typed_literal(s: str, type_name: str):
    """Coerce an option-string literal to the committed column type —
    the types parquet footer stats / partition tuples compare against.
    Unknown primitive names fall back to the raw string (compares
    lexically, the pre-typed behavior)."""
    if type_name in ("byte", "short", "integer", "long"):
        return int(s)
    if type_name in ("float", "double"):
        return float(s)
    if type_name.startswith("decimal"):
        from decimal import Decimal

        return Decimal(s)
    if type_name == "boolean":
        return s.lower() in ("true", "1", "t")
    if type_name == "date":
        import datetime

        return datetime.date.fromisoformat(s)
    if type_name.startswith("timestamp"):
        import datetime

        return datetime.datetime.fromisoformat(s)
    return s


def _schema_of(root: str, version: int, ref: str = "main") -> StructType:
    m = snap.read_manifest(root, version, ref)
    return StructType.fromJson(_nullable_schema_json(m["schema"]))


class _BatchReader(DataSourceReader):
    def __init__(self, root: str, version, ref: str, prune=None):
        self.root = root
        if isinstance(version, str) and not version.isdigit():
            version = snap.tag_version(root, version)
        self.version = (
            int(version)
            if version is not None
            else snap.current_version(root, ref)
        )
        self.ref = ref
        self.prune = prune
        self.manifest = snap.read_manifest(root, self.version, ref)

    def partitions(self):
        schema_json = json.dumps(
            _nullable_schema_json(self.manifest["schema"])
        )
        return _slices_for_manifest(
            self.root, self.manifest, schema_json, self.prune
        )

    def read(self, partition):
        yield from _arrow_read(partition)


class _StreamReader(DataSourceStreamReader):
    """Snapshot versions ARE the offsets: {"version": N}. Each batch
    serves the new segments of append commits in (start, end] under
    the schema pinned at stream start (later-added columns surface
    when the stream restarts on the wider schema).

    ``option("max_versions_per_batch", N)`` is backlog admission
    control (Delta's maxFilesPerTrigger / Iceberg's
    streaming-max-files-per-micro-batch, at this format's natural
    version granularity): without it, a stream started against a
    long-lived table drains the ENTIRE backlog in one unbounded
    micro-batch — one trigger planning every historical segment.
    With it, latestOffset advances at most N versions past the
    previously admitted offset per call, so NO MICRO-BATCH EVER
    SPANS MORE THAN N VERSIONS — the scale invariant, held in every
    trigger mode. Mode caveat (the Python DataSource API exposes no
    SupportsAdmissionControl/prepareForTriggerAvailableNow hooks, so
    the JVM availableNow wrapper captures ONE latestOffset() as its
    target): under ``trigger(availableNow=True)`` a capped stream
    drains at most N versions PER START rather than looping to the
    head — use a processingTime trigger (the continuous-ingest
    deployment this cap exists for) to catch up fully in bounded
    batches, or leave the cap unset for full-drain availableNow
    semantics. After a checkpoint restart the admitted offset may
    briefly trail the committed one — the (start, end] batch is then
    empty and the cap re-advances from the committed offset (commit()
    keeps them in sync); nothing is re-served."""

    def __init__(self, root: str, since: int, schema_json: str,
                 ids_json, legacy_json=None, max_versions=None):
        self.root = root
        self.since = since
        self.schema_json = schema_json
        self.ids_json = ids_json
        self.max_versions = max_versions
        self._admitted = since
        self._pinned_fields = [
            f["name"] for f in json.loads(schema_json)["fields"]
        ]
        self._pinned_ids = json.loads(ids_json) if ids_json else None
        self._pinned_legacy = (
            json.loads(legacy_json) if legacy_json else None
        )

    def initialOffset(self):
        return {"version": self.since}

    def latestOffset(self):
        head = snap.current_version(self.root)
        if not self.max_versions:
            return {"version": head}
        self._admitted = min(head, self._admitted + self.max_versions)
        return {"version": self._admitted}

    def commit(self, end):
        # keep the admission cursor in sync with the checkpointed
        # offset so a post-restart reader (fresh _admitted=since)
        # jumps straight to the committed position instead of
        # re-walking the cap N-at-a-time through already-served space
        self._admitted = max(self._admitted, int(end["version"]))

    def partitions(self, start, end):
        lo, hi = int(start["version"]), int(end["version"])
        # same restart sync: `start` IS the checkpointed offset
        self._admitted = max(self._admitted, lo)
        self._check_retention(lo)
        out = []
        for v in range(lo + 1, hi + 1):
            m = snap.read_manifest(self.root, v)
            self._check_schema_stable(m, v)
            if m["op"] != "append":
                continue
            pm = (
                snap.read_manifest(self.root, m["parent"])
                if m["parent"]
                else {}
            )
            sub = snap._append_delta(self.root, m, pm)
            if sub is None:
                continue
            if self._pinned_ids and not m.get("column_ids"):
                # backlog commit written BEFORE the table's first
                # evolution: its files carry write-time names, and the
                # pinned (possibly renamed) schema would resolve to
                # nothing and null-fill. Resolve through the head's
                # legacy_columns snapshot — the same mapping
                # snapshots._read_files uses for pre-ID segments.
                if not self._pinned_legacy:
                    raise ValueError(
                        f"v{v} predates the table's column IDs and no "
                        "legacy_columns snapshot exists to resolve the "
                        "pinned schema; restart the stream"
                    )
                sub["column_ids"] = self._pinned_ids
                sub["legacy_columns"] = self._pinned_legacy
            out.extend(
                _slices_for_manifest(self.root, sub, self.schema_json)
            )
        return out

    def _check_schema_stable(self, m: dict, v: int) -> None:
        """A rename/drop of a pinned column mid-stream would silently
        null-fill it (the pinned name no longer resolves through the
        later manifest's ID map) — fail the stream instead, Delta's
        contract: restart to adopt the new schema. Added columns are
        benign (not in the pinned projection)."""
        wids = m.get("column_ids")
        if not wids:
            return
        for name in self._pinned_fields:
            ok = name in wids and (
                self._pinned_ids is None
                or wids[name] == self._pinned_ids.get(name, wids[name])
            )
            if not ok:
                raise ValueError(
                    f"column {name!r} was renamed or dropped at "
                    f"v{v} while this stream was running; restart "
                    "the stream to adopt the evolved schema"
                )

    def _check_retention(self, start_version: int) -> None:
        min_since = snap._retention_floor(
            self.root, snap.current_version(self.root)
        )
        if start_version < min_since:
            raise snap.RetentionExpired(
                f"stream checkpoint at v{start_version} is behind the "
                f"retention horizon; oldest readable checkpoint is "
                f"{min_since} — reseed from a snapshot read"
            )

    def read(self, partition):
        yield from _arrow_read(partition)

    def stop(self):
        pass


_META_KINDS = ("history", "files", "partitions", "refs", "amplification")


_AMPLIFICATION_SCHEMA = (
    StructType()
    .add("version", "integer")
    .add("n_eq_delete_entries", "integer")
    .add("n_pos_delete_files", "integer")
    .add("n_segments", "integer")
    .add("worst_segment_entries", "integer")
    .add("compact_recommended", "boolean")
)


def _meta_schema_and_rows(root: str, kind: str, version, ref: str):
    """METADATA TABLES through the source (Iceberg's ``snapshots`` /
    ``files`` / ``partitions`` / ``refs``; Delta's DESCRIBE HISTORY):
    (schema, rows) for ``option("metadata", <kind>)``, from the same
    driver-side row assemblers as the library's `table_history`/
    `table_files`/`table_partitions`/`table_refs`, plus
    `read_amplification` as a one-row table — served to SQL users who
    only hold the reader."""
    if isinstance(version, str) and not str(version).isdigit():
        version = snap.tag_version(root, version)
    v = int(version) if version is not None else snap.current_version(
        root, ref
    )
    if kind == "history":
        return snap._history_table(root)
    if kind == "files":
        return snap._files_table(root, v, ref)
    if kind == "partitions":
        return snap._partitions_table(root, v, ref)
    if kind == "refs":
        return snap._refs_table(root)
    if kind == "amplification":
        ra = snap.read_amplification(root, v, ref)
        return _AMPLIFICATION_SCHEMA, [
            tuple(ra[f.name] for f in _AMPLIFICATION_SCHEMA.fields)
        ]
    raise ValueError(
        f"unknown metadata table {kind!r}; one of {_META_KINDS}"
    )


class _MetaSlice(InputPartition):
    """Driver-assembled metadata rows and their schema, pickled whole
    to the worker."""

    def __init__(self, schema, rows):
        self.schema = schema
        self.rows = rows


class _MetaReader(DataSourceReader):
    def __init__(self, schema, rows):
        self._slice = _MetaSlice(schema, rows)

    def partitions(self):
        return [self._slice]

    def read(self, partition):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        fields = [
            pa.field(f.name, to_arrow_type(f.dataType))
            for f in partition.schema.fields
        ]
        rows = partition.rows
        arrays = [
            pa.array([r[i] for r in rows], type=f.type)
            for i, f in enumerate(fields)
        ]
        yield pa.record_batch(arrays, schema=pa.schema(fields))


class _WriteResult(WriterCommitMessage):
    """One task's staged output: table-relative data files, plus the
    task's distinct-key sidecar files in upsert mode."""

    def __init__(self, files, key_files=None):
        self.files = files
        self.key_files = key_files or []


def _write_task(batches, root, spec, key_cols=None):
    """Executor write kernel: stream this task's arrow batches into
    staged parquet under ``root/data/<task-uuid>/``, hive
    ``_p_<col>=<value>`` layout when the table carries an identity
    partition spec (one open ParquetWriter per partition tuple — the
    same mirror-column layout as `snapshots._write_data_files`, so
    partition values live in BOTH the path and the data). In upsert
    mode also writes one sidecar parquet of the task's DISTINCT key
    tuples (cross-task duplicates are fine — the eq-delete anti-join
    is set-semantics). Returns table-relative paths; the driver's
    commit links them into the manifest. Data never passes through
    the driver."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from urllib.parse import quote

    task_dir = f"{snap._DATA}/{uuid.uuid4().hex[:12]}"
    writers: dict = {}
    files: list[str] = []
    key_tables: list = []

    def _hive(v):
        if v is None:
            return "__HIVE_DEFAULT_PARTITION__"
        if isinstance(v, bool):
            return "true" if v else "false"
        return quote(str(v), safe="")

    def _sink(rel_dir, tbl):
        w = writers.get(rel_dir)
        if w is None:
            os.makedirs(os.path.join(root, rel_dir), exist_ok=True)
            rel = f"{rel_dir}/part-{uuid.uuid4().hex}.parquet"
            w = pq.ParquetWriter(os.path.join(root, rel), tbl.schema)
            writers[rel_dir] = w
            files.append(rel)
        w.write_table(tbl)

    for batch in batches:
        tbl = pa.Table.from_batches([batch])
        if key_cols:
            key_tables.append(tbl.select(key_cols))
        if not spec:
            _sink(task_dir, tbl)
            continue
        uniq = tbl.select(spec).group_by(spec).aggregate([])
        for i in range(uniq.num_rows):
            tup = [uniq[c][i] for c in spec]
            mask = None
            for c, v in zip(spec, tup):
                py = v.as_py() if v.is_valid else None
                if not v.is_valid:
                    eq = pc.is_null(tbl[c])
                elif isinstance(py, float) and py != py:
                    # arrow group_by emits a NaN group, but
                    # pc.equal(NaN, NaN) is false — an equality mask
                    # would silently drop these rows from every file
                    eq = pc.is_nan(tbl[c])
                else:
                    eq = pc.equal(tbl[c], v)
                mask = eq if mask is None else pc.and_(mask, eq)
            rel_dir = task_dir + "".join(
                f"/_p_{c}={_hive(v.as_py())}"
                for c, v in zip(spec, tup)
            )
            _sink(rel_dir, tbl.filter(mask))
    for w in writers.values():
        w.close()
    key_files: list[str] = []
    if key_cols and key_tables:
        kt = (
            pa.concat_tables(key_tables)
            .group_by(key_cols)
            .aggregate([])
            .select(key_cols)
        )
        os.makedirs(os.path.join(root, task_dir), exist_ok=True)
        rel = f"{task_dir}/keys-{uuid.uuid4().hex}.parquet"
        pq.write_table(kt, os.path.join(root, rel))
        key_files.append(rel)
    return files, key_files


def _abort_cleanup(root: str, messages) -> None:
    """Best-effort removal of staged task dirs after a failed job.
    Tasks that died before returning a message leave orphans — the
    format's standard crash model; `vacuum` age-gates them away."""
    dirs = set()
    for m in messages or []:
        if m is None:
            continue
        for rel in list(m.files) + list(m.key_files):
            dirs.add(os.path.join(root, os.path.dirname(rel).split("/_p_")[0]))
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


class _SnapshotBatchWriter(DataSourceArrowWriter):
    """``df.write.format("snapshot")``: executor tasks stage parquet
    (`_write_task`), the driver links them with
    `snapshots.commit_append_files` (mode=append) or
    `commit_overwrite_files` (mode=overwrite) — one atomic manifest
    commit, add-only schema contract, stats/bloom/partition specs
    inherited from the head (`snapshots._inherit`). Writer options
    ``stats_cols`` / ``bloom_cols`` add columns to the table's opt-ins;
    ``partition_by`` seeds a new table's spec (comma-separated column
    lists).
    ``option("ref", <branch>)`` appends to a branch created by
    `create_branch` — write-audit-publish through ``df.write``
    (Iceberg's WAP); overwrite stays trunk-only (publishing a branch
    IS the audited replace)."""

    def __init__(self, root, schema, overwrite, options):
        self.root = root
        self.schema_dict = json.loads(schema.json())
        self.overwrite = overwrite
        self.ref = options.get("ref", "main")
        if overwrite and self.ref != "main":
            raise ValueError(
                "overwrite targets the trunk; append to the branch "
                "and publish_branch for an audited replace"
            )

        def _cols(key):
            raw = options.get(key, "")
            return [c.strip() for c in raw.split(",") if c.strip()]

        hm = {}
        head = snap.current_version(root, self.ref)
        if head:
            hm = snap.read_manifest(root, head, self.ref)
        # fail FAST at plan time, before any task stages data (the
        # commit re-checks against the then-current head)
        snap._check_add_only_fields(hm, self.schema_dict["fields"])
        self.partition_by = _cols("partition_by") or list(
            hm.get("partition_spec") or []
        )
        self.stats_cols = _cols("stats_cols")
        self.bloom_cols = _cols("bloom_cols")
        names = {f["name"] for f in self.schema_dict["fields"]}
        alien = [c for c in self.partition_by if c not in names]
        if alien:
            raise ValueError(
                f"partition column(s) {alien} not in the frame"
            )

    def write(self, iterator):
        files, _ = _write_task(iterator, self.root, self.partition_by)
        return _WriteResult(files)

    def commit(self, messages):
        files = sorted(f for m in messages if m for f in m.files)
        kwargs = dict(
            stats_cols=self.stats_cols or None,
            bloom_cols=self.bloom_cols or None,
            partition_by=self.partition_by or None,
        )
        if self.overwrite:
            snap.commit_overwrite_files(
                self.root, files, self.schema_dict, **kwargs
            )
        else:
            snap.commit_append_files(
                self.root, files, self.schema_dict, ref=self.ref, **kwargs
            )

    def abort(self, messages):
        _abort_cleanup(self.root, messages)


class _SnapshotStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("snapshot")``: every micro-batch is one
    committed snapshot version with EXACTLY-ONCE semantics — the
    manifest records ``(stream_id, batch_id)`` (the same ledger as
    `snapshots.snapshot_sink`), so a batch re-delivered after a crash
    between the manifest commit and Spark's checkpoint commit is
    recognized in `commit` and skipped; its re-staged files are
    vacuum-able orphans, never double-counted rows.

    ``option("stream_id", <id>)`` is REQUIRED (it is the ledger key —
    two different streams into one table must not share it).
    ``option("mode", "upsert")`` + ``option("keys", "k1,k2")`` turns
    each batch into a merge-on-read UPSERT (`commit_mor_upsert_files`:
    O(batch) data + O(keys) delete rows, never a table scan — the CDC
    apply); the first batch into an EMPTY table bootstraps as a plain
    append (there is nothing to delete from)."""

    def __init__(self, root, schema, options):
        self.root = root
        self.schema_dict = json.loads(schema.json())
        self.stream_id = options.get("stream_id")
        if not self.stream_id:
            raise ValueError(
                'snapshot stream sink needs .option("stream_id", <id>)'
                " — it keys the exactly-once commit ledger"
            )
        self.mode = options.get("mode", "append")
        if self.mode not in ("append", "upsert"):
            raise ValueError(
                f"unknown snapshot sink mode {self.mode!r}; "
                "use 'append' or 'upsert'"
            )
        self.key_cols = [
            c.strip()
            for c in options.get("keys", "").split(",")
            if c.strip()
        ]
        if self.mode == "upsert" and not self.key_cols:
            raise ValueError(
                'upsert mode needs .option("keys", "k1,k2")'
            )
        names = {f["name"] for f in self.schema_dict["fields"]}
        alien = [c for c in self.key_cols if c not in names]
        if alien:
            raise ValueError(f"key column(s) {alien} not in the frame")
        head = snap.current_version(root)
        hm = snap.read_manifest(root, head) if head else {}
        snap._check_add_only_fields(hm, self.schema_dict["fields"])
        self.partition_by = list(hm.get("partition_spec") or [])

    def write(self, iterator):
        files, key_files = _write_task(
            iterator,
            self.root,
            self.partition_by,
            self.key_cols if self.mode == "upsert" else None,
        )
        return _WriteResult(files, key_files)

    def commit(self, messages, batchId):
        if (
            snap._find_stream_commit(self.root, self.stream_id, batchId)
            is not None
        ):
            return  # re-delivered after a post-commit crash
        files = sorted(f for m in messages if m for f in m.files)
        meta = {"stream_id": self.stream_id, "batch_id": batchId}
        if self.mode == "upsert" and snap.current_version(self.root):
            key_files = sorted(
                f for m in messages if m for f in m.key_files
            )
            snap.commit_mor_upsert_files(
                self.root,
                files,
                key_files,
                self.key_cols,
                self.schema_dict,
                extra_meta=meta,
            )
        else:
            snap.commit_append_files(
                self.root, files, self.schema_dict, extra_meta=meta
            )

    def abort(self, messages, batchId):
        _abort_cleanup(self.root, messages)


class SnapshotDataSource(DataSource):
    """``format("snapshot")``: batch + streaming reads AND writes of
    the snapshot table format through Spark's public Python DataSource
    API."""

    @classmethod
    def name(cls):
        return "snapshot"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError(
                "snapshot source needs a table root: .load(<root>)"
            )
        return root

    def _pinned(self) -> tuple[int, str]:
        """Resolve (version, ref) ONCE per DataSource instance: Spark
        calls schema() then reader() on the same instance, and a
        commit landing between two independent head resolutions would
        plan a newer manifest than the advertised schema (an arrow /
        schema mismatch at read time).

        ``option("timestamp", ...)`` is ``TIMESTAMP AS OF`` — epoch
        seconds or an ISO-8601 string, resolved through
        `snapshots.timestamp_version` (same typed ValueError /
        RetentionExpired contract as `read_snapshot`); mutually
        exclusive with ``version``."""
        if not hasattr(self, "_pinned_version"):
            root = self._root()
            ref = self.options.get("ref", "main")
            v = self.options.get("version")
            ts = self.options.get("timestamp")
            if v is not None and ts is not None:
                raise ValueError(
                    "options 'version' and 'timestamp' are mutually "
                    "exclusive"
                )
            if ts is not None:
                try:
                    ts = float(ts)  # epoch seconds as an option string
                except ValueError:
                    pass  # ISO-8601 string
                v = snap.timestamp_version(root, ts, ref)
            if isinstance(v, str) and not v.isdigit():
                v = snap.tag_version(root, v)
            self._pinned_version = (
                int(v)
                if v is not None
                else snap.current_version(root, ref)
            )
            self._pinned_ref = ref
        return self._pinned_version, self._pinned_ref

    def _meta(self):
        """Resolve the metadata-table request ONCE per instance (rows
        are assembled a single time and serve both schema() and
        reader(), so a commit landing in between cannot skew them)."""
        if not hasattr(self, "_meta_resolved"):
            kind = self.options.get("metadata")
            if kind is None:
                self._meta_resolved = None
            else:
                self._meta_resolved = _meta_schema_and_rows(
                    self._root(),
                    kind,
                    self.options.get("version"),
                    self.options.get("ref", "main"),
                )
        return self._meta_resolved

    def schema(self):
        meta = self._meta()
        if meta is not None:
            return meta[0]
        version, ref = self._pinned()
        return _schema_of(self._root(), version, ref)

    def _prune_opts(self, schema_fields: list[dict]) -> dict | None:
        """File-skipping bounds from reader options (option keys are
        lowercased by Spark — name engine columns accordingly):

            .option("prune.<col>", "lo,hi")     # range; empty = open
            .option("prune_in.<col>", "a,b,c")  # value set (+ blooms)

        Resolved through the manifest's min/max stats, partition
        tuples, and bloom filters BEFORE partition planning, so the
        source plans strictly fewer input partitions. Same contract
        as read_snapshot's ``prune``: an optimization only valid
        UNDER the caller's equivalent row filter.

        Literals are typed by the COMMITTED SCHEMA's column type (a
        string column whose values look numeric — '0123' ids — stays
        a string; an int column's '5' becomes 5), never guessed from
        the option text. LIMITATION: values are comma-split, so a
        prune_in value containing a comma cannot be expressed through
        options — use the library path (`read_snapshot(prune=...)`),
        which takes python values directly."""
        types = {
            f["name"]: f["type"]
            for f in schema_fields
            if isinstance(f.get("type"), str)
        }

        def coerce(col: str, s: str):
            s = s.strip()
            if not s:
                return None
            if col not in types:
                raise ValueError(
                    f"prune column {col!r} is not a primitive column "
                    "of the committed schema"
                )
            return _typed_literal(s, types[col])

        prune: dict = {}
        for k, v in self.options.items():
            if k.startswith("prune."):
                parts = v.split(",")
                if len(parts) != 2:
                    raise ValueError(
                        f"option {k!r} wants 'lo,hi' (empty side = "
                        f"open), got {v!r}"
                    )
                col = k[len("prune."):]
                prune[col] = (
                    coerce(col, parts[0]),
                    coerce(col, parts[1]),
                )
            elif k.startswith("prune_in."):
                col = k[len("prune_in."):]
                prune[col] = [coerce(col, x) for x in v.split(",")]
        return prune or None

    def reader(self, schema):
        meta = self._meta()
        if meta is not None:
            return _MetaReader(*meta)
        version, ref = self._pinned()
        root = self._root()
        m = snap.read_manifest(root, version, ref)
        return _BatchReader(
            root,
            version,
            ref,
            self._prune_opts(m["schema"]["fields"]),
        )

    def writer(self, schema, overwrite):
        return _SnapshotBatchWriter(
            self._root(), schema, overwrite, self.options
        )

    def streamWriter(self, schema, overwrite):
        return _SnapshotStreamWriter(self._root(), schema, self.options)

    def streamReader(self, schema):
        root = self._root()
        since = int(self.options.get("since", 0))
        head = snap.current_version(root)
        m = snap.read_manifest(root, head)
        ids_json = (
            json.dumps(m["column_ids"]) if m.get("column_ids") else None
        )
        legacy_json = (
            json.dumps(m["legacy_columns"])
            if m.get("legacy_columns")
            else None
        )
        mv = self.options.get("max_versions_per_batch")
        max_versions = int(mv) if mv is not None else None
        if max_versions is not None and max_versions < 1:
            raise ValueError(
                "max_versions_per_batch must be >= 1, got "
                f"{max_versions}"
            )
        return _StreamReader(
            root,
            since,
            json.dumps(_nullable_schema_json(m["schema"])),
            ids_json,
            legacy_json,
            max_versions,
        )
