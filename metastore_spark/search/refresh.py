"""The on-disk search index: a store of self-contained segments.

This module is the only writer and reader of the persisted index. A
segment directory holds ``postings/`` (term, doc_id, field, tf),
``doclen/`` (doc_id, field, dl), ``docfreq/`` (term, field, df) and
``stats.json`` (``num_docs``, per-field ``[dl_sum, count]`` and each
table's ``schemas`` entry, so opening a segment runs no schema-inference
job). Two stores use it:

- the served index over a static corpus (`queries_search._index_for`)
  is ONE segment, written by `_write_segment` inside a build-once
  store (`serve.build_once`) and opened by `load_segments`;
- the refreshed index over an append-only corpus (the reference's
  ``events`` kind, metastore/models.py:82-85) is a directory of
  segments listed by an atomic ``_MANIFEST.json``:

  - every micro-batch of NEW documents becomes a segment, so analysis
    cost is O(batch), never O(corpus);
  - the manifest is swapped by tmp+rename, so a crashed refresh
    leaves the old manifest serving the old segment set;
  - BM25's corpus-GLOBAL statistics are merged at load time from the
    per-segment partials: doc sets of segments are disjoint, so
    ``df`` sums exactly, ``num_docs`` sums, and ``avgdl`` is
    total_dl / total_rows. A vocabulary-sized aggregate, not a corpus
    re-analysis; this is how Lucene merges per-segment stats under
    one IndexReader;
  - ``compact_segments`` folds the accumulated tail into one segment
    (a postings-table rewrite, no re-analysis) with the same
    manifest-swap + idempotent-retire discipline as
    streaming/ivf.compact_index.

The merged index is EQUAL to a cold full rebuild (hash-pinned by the
``search_stream_index_refresh`` registry query): same postings rows,
same df, same num_docs, avgdl identical up to float-sum association.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from metastore_spark.search.index import SearchIndex, build_index

_MANIFEST = "_MANIFEST.json"


def _read_manifest(path: str) -> dict | None:
    try:
        with open(os.path.join(path, _MANIFEST)) as fh:
            return json.load(fh)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _write_manifest(path: str, man: dict) -> None:
    tmp = os.path.join(
        path, f".{_MANIFEST}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    )
    with open(tmp, "w") as fh:
        json.dump(man, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, os.path.join(path, _MANIFEST))


def _write_tables(seg_dir: str, tables: dict[str, DataFrame]) -> dict:
    """Write a segment's tables; return their schemas for stats.json
    (nullable, as a parquet read reports them)."""
    schemas = {}
    for sub, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(seg_dir, sub))
        schemas[sub] = StructType(
            [StructField(f.name, f.dataType, True) for f in df.schema]
        ).jsonValue()
    return schemas


def _write_segment(
    spark: SparkSession,
    df: DataFrame,
    id_col: str,
    fields: list[str],
    seg_dir: str,
    stem: bool,
) -> None:
    """Analyze ``df`` (new documents ONLY) into a self-contained
    segment: postings, doclen, per-segment docfreq, and the partial
    stats global BM25 needs (per-field dl sum/count, doc count)."""
    idx = build_index(df, id_col, fields, stem=stem)
    schemas = _write_tables(
        seg_dir,
        {
            "postings": idx.postings,
            "doclen": idx.doclen,
            "docfreq": idx.docfreq,
        },
    )
    sums = {
        r["field"]: (float(r["s"]), int(r["c"]))
        for r in idx.doclen.groupBy("field")
        .agg(F.sum("dl").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    stats = {"num_docs": idx.num_docs, "dl_sums": sums, "schemas": schemas}
    with open(os.path.join(seg_dir, "stats.json"), "w") as fh:
        json.dump(stats, fh)
    idx.unpersist()


def refresh_segment(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    id_col: str,
    fields: list[str],
    stem: bool = True,
    segment_name: str | None = None,
    max_segments: int = 8,
    manifest_extra: dict | None = None,
) -> str | None:
    """Land one batch of new documents as a segment and publish it:
    build in a process-private scratch, os.rename to ``seg-<name>``,
    then swap the manifest. Replay-idempotent when ``segment_name`` is
    the batch id — a replayed batch republishes identical content
    under the same name (the manifest add is a set-union). foreachBatch
    hook: ``lambda b, bid: refresh_segment(spark, b, path, ...,
    segment_name=str(bid))``.

    Segment growth is BOUNDED: when the publish leaves more than
    ``max_segments`` live segments, the refresh auto-folds them via
    `compact_segments` — so `load_segmented`'s plan size and
    per-segment stats opens stay O(max_segments) no
    matter how long the ingest runs, the same invariant
    streaming/ivf.py keeps for batch dirs. Pass ``max_segments=0`` to
    disable.

    Replay safety across folds: the manifest keeps a ``folded``
    ledger (streaming/ivf.py's folded_batches idiom). A batch
    replayed AFTER its segment was folded into a compacted generation
    (crash between the refresh and the stream's checkpoint commit)
    re-lands identical content, is recognized in the ledger, and is
    NOT re-added — its rows already live in the compacted segment, so
    re-listing it would double-count every doc. The ledger is
    name-only and prunable past the stream's replay horizon.

    ``manifest_extra`` keys are merged into the SAME manifest write
    that lists the segment — the publish and any caller checkpoint
    (refresh_from_snapshot's ``snapshot_version``) become one atomic
    rename, so no crash can separate "segment visible" from
    "checkpoint advanced" (a commit landing inside that gap would make
    the replay re-index the window under a new name). The
    folded-replay branch also applies the extra: the batch's rows are
    already indexed, so the checkpoint must still advance.

    Returns the published segment's directory path, or ``None`` when
    the batch was a folded replay (its rows live in a compacted
    segment; there is no live per-batch directory to open)."""
    os.makedirs(path, exist_ok=True)
    name = f"seg-{segment_name or uuid.uuid4().hex[:8]}"
    dest = os.path.join(path, name)
    tmp = f"{dest}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    man = _read_manifest(path) or {"segments": []}
    if name in man.get("folded", []):
        # replayed batch, already folded: its content is in the
        # compacted segment — discard the redundant rebuild. Return
        # None, not `dest`: that directory was retired at compaction
        # and no longer exists.
        shutil.rmtree(tmp, ignore_errors=True)
        if manifest_extra:
            man.update(manifest_extra)
            _write_manifest(path, man)
        return None
    _write_segment(spark, new_docs, id_col, fields, tmp, stem)
    if os.path.exists(dest):  # replay: identical content, swap it in
        old = f"{dest}.old-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        os.rename(dest, old)
        shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, dest)
    man = _read_manifest(path) or {"segments": []}
    if name not in man["segments"] and name not in man.get("folded", []):
        man["segments"] = sorted(man["segments"] + [name])
    if manifest_extra:
        man.update(manifest_extra)
    _write_manifest(path, man)
    if max_segments and len(man["segments"]) > max_segments:
        compact_segments(spark, path)
    return dest


def refresh_from_snapshot(
    spark: SparkSession,
    snap_root: str,
    index_path: str,
    id_col: str,
    fields: list[str],
    stem: bool = True,
) -> int:
    """Index maintenance CHECKPOINTED BY SNAPSHOT VERSION: instead of
    draining its own stream, the segmented refresh consumes the snapshot
    table's append feed. The index manifest records the last indexed
    snapshot version; each call reads `snapshots.read_appends(root,
    since, head)` — exactly the rows appended in the window, O(delta
    files) by construction (compaction and COW deletes contribute
    nothing) — lands them as ONE segment named by the version window,
    and advances the checkpoint. Returns the indexed head version.

    Crash contract: the segment publish and the checkpoint stamp
    are ONE manifest write (refresh_segment's
    ``manifest_extra``), so no crash can leave a published-but-
    unstamped window for a later snapshot commit to widen — the race
    where the replay re-indexed the old window under a new name
    (snap-{since+1}-{newHead} beside the already-listed
    snap-{since+1}-{oldHead}) cannot arise. Belt over suspenders,
    ``since`` is additionally derived as the max window end encoded
    in already-published segment names (live AND folded), so even a
    store left in the old crashed state — or one whose manifest key
    was lost by an external edit — replays single-counted: the
    overlapping window is recognized by name, not by the separate
    checkpoint key alone. Erasure note: like any
    postings-over-appends index, a snapshot DELETE does not retract
    already-indexed rows — erasure-compliant serving filters hits
    against the current snapshot (the reference API path) or triggers
    a rebuild."""
    from metastore_spark.sources import snapshots

    man = _read_manifest(index_path) or {}
    since = int(man.get("snapshot_version", 0))
    window_re = re.compile(r"^seg-snap-\d+-(\d+)$")
    for nm in list(man.get("segments", [])) + list(man.get("folded", [])):
        mt = window_re.match(nm)
        if mt:
            since = max(since, int(mt.group(1)))
    head = snapshots.current_version(snap_root)
    if head <= since:
        # nothing new committed; self-heal a stale checkpoint key
        # (old-code crash state or external rollback) — the derived
        # window end is authoritative
        if man and int(man.get("snapshot_version", 0)) < since:
            man["snapshot_version"] = since
            _write_manifest(index_path, man)
        return since
    new_docs = snapshots.read_appends(spark, snap_root, since, head)
    if new_docs.isEmpty():
        # window held only non-append commits (compaction/erasure):
        # advance the checkpoint without minting an empty segment
        man = _read_manifest(index_path) or {"segments": []}
        man["snapshot_version"] = head
        _write_manifest(index_path, man)
        return head
    refresh_segment(
        spark,
        new_docs,
        index_path,
        id_col,
        fields,
        stem=stem,
        segment_name=f"snap-{since + 1}-{head}",
        # stamped in the SAME manifest write that lists the segment —
        # publish and checkpoint advance are atomic (see docstring)
        manifest_extra={"snapshot_version": head},
    )
    return head


def _merge(spark: SparkSession, seg_dirs: list[str]):
    """The segments' postings, doclen, docfreq and stats as ONE
    segment's: postings/doclen are the (disjoint) union, docfreq is
    the exact per-term sum of segment partials and the stats sum. One
    segment's tables are read as written: its df is already exact.
    Every table opens under the schema its stats.json records."""
    seg_stats = []
    for s in seg_dirs:
        with open(os.path.join(s, "stats.json")) as fh:
            seg_stats.append(json.load(fh))

    def read(sub: str) -> DataFrame:
        return reduce(
            DataFrame.unionByName,
            [
                spark.read.schema(StructType.fromJson(st["schemas"][sub]))
                .parquet(os.path.join(s, sub))
                for s, st in zip(seg_dirs, seg_stats)
            ],
        )

    docfreq = read("docfreq")
    if len(seg_dirs) > 1:
        docfreq = docfreq.groupBy("term", "field").agg(F.sum("df").alias("df"))
    num_docs = 0
    dl: dict[str, list[float]] = {}
    for st in seg_stats:
        num_docs += int(st["num_docs"])
        for field, (ssum, cnt) in st["dl_sums"].items():
            agg = dl.setdefault(field, [0.0, 0])
            agg[0] += ssum
            agg[1] += cnt
    stats = {"num_docs": num_docs, "dl_sums": dl}
    return read("postings"), read("doclen"), docfreq, stats


def load_segments(spark: SparkSession, seg_dirs: list[str]) -> SearchIndex:
    """Open segment directories as ONE SearchIndex; num_docs/avgdl
    recombine from the per-segment sums. The merge work is
    vocabulary-sized, and query-time term predicates still push down
    into every segment's postings scan."""
    postings, doclen, docfreq, stats = _merge(spark, seg_dirs)
    return SearchIndex(
        postings=postings,
        docfreq=docfreq,
        doclen=doclen,
        avgdl={f: (s / c if c else 0.0) for f, (s, c) in stats["dl_sums"].items()},
        num_docs=stats["num_docs"],
    )


def load_segmented(spark: SparkSession, path: str) -> SearchIndex:
    """Open the segment store at ``path`` through its manifest."""
    man = _read_manifest(path)
    if man is None or not man["segments"]:
        raise FileNotFoundError(f"no segment manifest under {path}")
    return load_segments(spark, [os.path.join(path, s) for s in man["segments"]])


def compact_segments(spark: SparkSession, path: str) -> None:
    """Fold every live segment into one (``seg-compacted-<n>``): a
    rewrite of the unioned postings/doclen/docfreq tables — NO
    re-analysis — then a manifest swap and idempotent retire of the
    folded segment dirs. Mirrors streaming/ivf.compact_index; run it
    when the refresh tail has accrued enough small files to matter."""
    man = _read_manifest(path)
    if man is None or len(man["segments"]) <= 1:
        return
    folded = list(man["segments"])
    gen = man.get("generation", -1) + 1
    name = f"seg-compacted-{gen}"
    dest = os.path.join(path, name)
    tmp = f"{dest}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    segs = [os.path.join(path, s) for s in folded]
    postings, doclen, docfreq, stats = _merge(spark, segs)
    # doclen is O(corpus docs) and docfreq is vocabulary-sized — a
    # coalesce(1) here would funnel both through ONE task/file at
    # compaction time (the 100 TB serialization point); shuffle them
    # on their natural keys like postings, readers handle multi-file
    # segment dirs already (the stream refresh writes them that way).
    stats["schemas"] = _write_tables(
        tmp,
        {
            "postings": postings.repartition("term"),
            "doclen": doclen.repartition("doc_id"),
            "docfreq": docfreq.repartition("term"),
        },
    )
    with open(os.path.join(tmp, "stats.json"), "w") as fh:
        json.dump(stats, fh)
    os.rename(tmp, dest)
    # carry every foreign manifest key (e.g. refresh_from_snapshot's
    # snapshot_version checkpoint) — a fold must never reset another
    # protocol's state
    new_man = dict(man)
    new_man.update(
        {
            "segments": [name],
            "generation": gen,
            # fold ledger: names whose content lives in a compacted
            # generation — refresh_segment consults it so a replayed
            # batch can never re-list itself (see its docstring)
            "folded": sorted(set(man.get("folded", [])) | set(folded)),
        }
    )
    _write_manifest(path, new_man)
    for s in segs:  # superseded by the manifest — idempotent retire
        shutil.rmtree(s, ignore_errors=True)
