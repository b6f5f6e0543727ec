"""The search-index segment store (search/refresh.py): one segment and
merged segments must equal a cold rebuild, replay must be idempotent,
and the compaction manifest swap must keep reads consistent through
its crash window."""

import os

from pyspark.sql import functions as F

from metastore_spark.search.index import build_index
from metastore_spark.search.refresh import (
    _read_manifest,
    compact_segments,
    load_segmented,
    refresh_segment,
)
from metastore_spark.search.scoring import bm25_scores

_DOCS = [
    (1, "spark joins streams"),
    (2, "spark shuffles data"),
    (3, "streams join streams"),
    (4, "unrelated prose entirely"),
    (5, "spark spark spark"),
    (6, "data streams everywhere"),
]


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _scores(spark, idx, stem=False):
    return sorted(
        (int(r["doc_id"]), round(float(r["score"]), 6))
        for r in bm25_scores(
            idx, "spark streams", {"text": 1.0}, stem=stem
        ).collect()
    )


def _two_segments(spark, store, stem=False):
    refresh_segment(
        spark, _docs_df(spark, _DOCS[:3]), store, "doc_id", ["text"],
        stem=stem, segment_name="base",
    )
    refresh_segment(
        spark, _docs_df(spark, _DOCS[3:]), store, "doc_id", ["text"],
        stem=stem, segment_name="0",
    )


def test_refreshed_equals_cold_rebuild(spark, tmp_path):
    """Inputs: two refreshed segments, and the same with stemmed
    analysis of each increment."""
    for stem in (False, True):
        _two_segments(spark, str(tmp_path / f"seg-{stem}"), stem=stem)
    cases = [
        (False, load_segmented(spark, str(tmp_path / "seg-False"))),
        (True, load_segmented(spark, str(tmp_path / "seg-True"))),
    ]
    for stem, merged in cases:
        cold = build_index(_docs_df(spark, _DOCS), "doc_id", ["text"], stem=stem)
        assert merged.num_docs == cold.num_docs == 6
        assert merged.avgdl["text"] == cold.avgdl["text"]
        for table in ("postings", "docfreq", "doclen"):
            got, want = (
                sorted(map(tuple, getattr(i, table).collect()))
                for i in (merged, cold)
            )
            assert got == want, (stem, table)
        assert _scores(spark, merged, stem) == _scores(spark, cold, stem)
        cold.unpersist()


def test_replayed_batch_does_not_double_count(spark, tmp_path):
    store = str(tmp_path / "seg")
    refresh_segment(
        spark, _docs_df(spark, _DOCS[:3]), store, "doc_id", ["text"],
        stem=False, segment_name="base",
    )
    batch = _docs_df(spark, _DOCS[3:])
    refresh_segment(
        spark, batch, store, "doc_id", ["text"], stem=False,
        segment_name="7",
    )
    before = _scores(spark, load_segmented(spark, store))
    # at-least-once replay: same batch id, identical content
    refresh_segment(
        spark, batch, store, "doc_id", ["text"], stem=False,
        segment_name="7",
    )
    idx = load_segmented(spark, store)
    assert idx.num_docs == 6
    assert _scores(spark, idx) == before


def test_compaction_folds_and_preserves_scores(spark, tmp_path):
    store = str(tmp_path / "seg")
    for i, lo in enumerate(range(0, 6, 2)):
        refresh_segment(
            spark, _docs_df(spark, _DOCS[lo:lo + 2]), store, "doc_id",
            ["text"], stem=False, segment_name=str(i),
        )
    before = _scores(spark, load_segmented(spark, store))
    compact_segments(spark, store)
    man = _read_manifest(store)
    assert man["segments"] == ["seg-compacted-0"]
    assert not [
        d for d in os.listdir(store)
        if d.startswith("seg-") and d != "seg-compacted-0"
    ]
    idx = load_segmented(spark, store)
    assert idx.num_docs == 6
    assert _scores(spark, idx) == before
    # a second compaction with one segment is a no-op
    compact_segments(spark, store)
    assert _read_manifest(store)["segments"] == ["seg-compacted-0"]


def test_compaction_side_tables_stay_distributed(spark, tmp_path):
    """compact_segments must never funnel doclen (O(corpus docs)) or
    docfreq (vocabulary-sized) through one task: the compacted segment
    keeps multiple parquet part-files when the shuffle does, instead
    of the coalesce(1) single-file shape (VERDICT r11 task 4)."""
    store = str(tmp_path / "seg")
    for i, lo in enumerate(range(0, 6, 2)):
        refresh_segment(
            spark, _docs_df(spark, _DOCS[lo:lo + 2]), store, "doc_id",
            ["text"], stem=False, segment_name=str(i),
        )
    before = _scores(spark, load_segmented(spark, store))
    # at test scale AQE (correctly) coalesces the tiny shuffles back
    # to one partition; switch that off so the distributed write
    # shape — the thing under test — is observable in the file count
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        compact_segments(spark, store)
    finally:
        spark.conf.set(key, old)
    seg = os.path.join(store, "seg-compacted-0")
    for sub in ("doclen", "docfreq", "postings"):
        parts = [
            f for f in os.listdir(os.path.join(seg, sub))
            if f.endswith(".parquet")
        ]
        assert len(parts) > 1, (sub, parts)
    assert _scores(spark, load_segmented(spark, store)) == before


def test_term_filter_prunes_each_segment_scan(spark, tmp_path):
    """Query-time term predicates must push into every segment's
    postings parquet scan — the access path the store exists for."""
    store = str(tmp_path / "seg")
    _two_segments(spark, store)
    idx = load_segmented(spark, store)
    plan = (
        idx.postings.filter(F.col("term") == "spark")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("PushedFilters: [IsNotNull(term), EqualTo(term,spark)]") == 2
    plan = (
        idx.postings.filter(F.col("term").isin(["spark", "join"]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("In(term, [join,spark])") == 2


def test_auto_fold_bounds_segments_scores_equal_cold(spark, tmp_path):
    """VERDICT r6 task 4: many drained micro-batches with
    max_segments=3 must keep the live segment count bounded after
    every refresh, with merged scores still equal to a cold rebuild
    of the full corpus."""
    store = str(tmp_path / "seg")
    rows = [(i, f"spark streams data batch{i % 4}") for i in range(12)]
    for i in range(12):
        refresh_segment(
            spark, _docs_df(spark, rows[i : i + 1]), store, "doc_id",
            ["text"], stem=False, segment_name=str(i), max_segments=3,
        )
        assert len(_read_manifest(store)["segments"]) <= 3
    merged = load_segmented(spark, store)
    cold = build_index(_docs_df(spark, rows), "doc_id", ["text"], stem=False)
    assert merged.num_docs == cold.num_docs == 12
    assert _scores(spark, merged) == _scores(spark, cold)
    cold.unpersist()


def test_replay_after_fold_does_not_double_count(spark, tmp_path):
    """The crash window between a refresh and the stream's checkpoint
    commit can replay a batch whose segment was ALREADY folded into a
    compacted generation: the manifest's fold ledger must recognize it
    and keep the corpus single-counted."""
    store = str(tmp_path / "seg")
    for i in range(3):
        refresh_segment(
            spark, _docs_df(spark, _DOCS[2 * i : 2 * i + 2]), store,
            "doc_id", ["text"], stem=False, segment_name=str(i),
        )
    compact_segments(spark, store)
    man = _read_manifest(store)
    assert man["segments"] == ["seg-compacted-0"]
    assert "seg-1" in man["folded"]
    before = _scores(spark, load_segmented(spark, store))

    # at-least-once replay of folded batch 1 (identical content)
    refresh_segment(
        spark, _docs_df(spark, _DOCS[2:4]), store, "doc_id", ["text"],
        stem=False, segment_name="1",
    )
    merged = load_segmented(spark, store)
    assert merged.num_docs == 6  # NOT 8
    assert _scores(spark, merged) == before


def test_folded_replay_returns_none_live_publish_returns_path(
    spark, tmp_path
):
    """ADVICE r7 (low): the folded-replay short-circuit used to return
    the RETIRED segment path (removed at compaction) — callers opening
    it would fail. Contract: a live publish returns its directory; a
    folded replay returns None."""
    import os

    store = str(tmp_path / "seg")
    for i in range(2):
        got = refresh_segment(
            spark, _docs_df(spark, _DOCS[2 * i : 2 * i + 2]), store,
            "doc_id", ["text"], stem=False, segment_name=str(i),
        )
        assert got is not None and os.path.isdir(got)
    compact_segments(spark, store)
    replay = refresh_segment(
        spark, _docs_df(spark, _DOCS[0:2]), store, "doc_id", ["text"],
        stem=False, segment_name="0",
    )
    assert replay is None


def test_refresh_from_snapshot_checkpoint_and_replay(spark, tmp_path):
    """VERDICT r7 task 6: snapshot-version-checkpointed refresh — each
    call consumes exactly the append window, a crash-replay of a
    stamped-but-rerun window republishes identical content (no double
    count), and the checkpoint SURVIVES a compaction fold."""
    from metastore_spark.search.refresh import refresh_from_snapshot
    from metastore_spark.sources import snapshots as snap

    tbl = str(tmp_path / "tbl")
    store = str(tmp_path / "seg")
    rows = [(i, f"spark streams data batch{i % 4}") for i in range(12)]

    snap.commit_append(spark, tbl, _docs_df(spark, rows[0:6]))
    assert refresh_from_snapshot(
        spark, tbl, store, "doc_id", ["text"], stem=False
    ) == 1
    assert load_segmented(spark, store).num_docs == 6

    snap.commit_append(spark, tbl, _docs_df(spark, rows[6:12]))
    assert refresh_from_snapshot(
        spark, tbl, store, "doc_id", ["text"], stem=False
    ) == 2
    assert load_segmented(spark, store).num_docs == 12

    # crash between publish and stamp: roll the checkpoint back and
    # re-run — the same window republishes under the same segment
    # name, corpus stays single-counted
    man = _read_manifest(store)
    man["snapshot_version"] = 1
    from metastore_spark.search.refresh import _write_manifest

    _write_manifest(store, man)
    assert refresh_from_snapshot(
        spark, tbl, store, "doc_id", ["text"], stem=False
    ) == 2
    assert load_segmented(spark, store).num_docs == 12

    # compaction fold must carry the checkpoint (not reset it)
    compact_segments(spark, store)
    man = _read_manifest(store)
    assert man["segments"] == ["seg-compacted-0"]
    assert man["snapshot_version"] == 2
    # delete-only window: checkpoint advances, nothing minted
    snap.commit_delete_where(
        spark, tbl, F.col("doc_id") == 0
    )
    assert refresh_from_snapshot(
        spark, tbl, store, "doc_id", ["text"], stem=False
    ) == 3
    assert _read_manifest(store)["segments"] == ["seg-compacted-0"]
    assert load_segmented(spark, store).num_docs == 12


def test_random_refresh_sequences_equal_cold_rebuild(spark, tmp_path):
    """Model-based sweep of the segment store: seeded random sequences
    of {land new batch, compact, replay a prior batch} must keep the
    merged index equal to a cold rebuild of exactly the landed corpus
    after EVERY step — the per-op tests check these pointwise; this
    pins the invariant across interleavings (including replays of
    batches that were already folded)."""
    import random

    rows = [(i, f"spark streams data batch{i % 5} w{i}") for i in range(30)]
    batches = [rows[i * 5 : (i + 1) * 5] for i in range(6)]

    for seed in (3, 11):
        rng = random.Random(seed)
        store = str(tmp_path / f"seg{seed}")
        landed: list[int] = []
        next_batch = 0
        for _step in range(8):
            ops = ["compact"] if landed else []
            if next_batch < len(batches):
                ops.append("land")
            if landed:
                ops.append("replay")
            op = rng.choice(ops)
            if op == "land":
                refresh_segment(
                    spark, _docs_df(spark, batches[next_batch]), store,
                    "doc_id", ["text"], stem=False,
                    segment_name=str(next_batch), max_segments=3,
                )
                landed.append(next_batch)
                next_batch += 1
            elif op == "compact":
                compact_segments(spark, store)
            else:  # replay an already-landed (possibly folded) batch
                b = rng.choice(landed)
                refresh_segment(
                    spark, _docs_df(spark, batches[b]), store,
                    "doc_id", ["text"], stem=False,
                    segment_name=str(b), max_segments=3,
                )
            corpus = [r for b in landed for r in batches[b]]
            merged = load_segmented(spark, store)
            cold = build_index(
                _docs_df(spark, corpus), "doc_id", ["text"], stem=False
            )
            assert merged.num_docs == cold.num_docs == len(corpus), (
                f"seed {seed} step {_step} op {op}"
            )
            assert _scores(spark, merged) == _scores(spark, cold), (
                f"seed {seed} step {_step} op {op}"
            )
            cold.unpersist()


def test_refresh_commit_between_crash_and_replay_single_counts(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8 (medium): a snapshot commit landing between a crash
    (segment published, checkpoint unstamped) and the replay used to
    re-index the overlap under a new name (snap-2-3 beside the listed
    snap-2-2). Pinned both ways: (1) publish and checkpoint stamp are
    now ONE manifest write, so refresh_from_snapshot cannot create the
    crashed state; (2) a store already IN that state (old code, or an
    externally-damaged manifest key) replays single-counted because
    `since` also derives from the window ends in published names."""
    from metastore_spark.search import refresh as refresh_mod
    from metastore_spark.search.refresh import refresh_from_snapshot
    from metastore_spark.sources import snapshots as snap

    tbl = str(tmp_path / "tbl")
    store = str(tmp_path / "seg")
    rows = [(i, f"spark streams data w{i}") for i in range(15)]

    # (1) atomicity: exactly one manifest write, carrying BOTH the
    # segment listing and the checkpoint stamp
    snap.commit_append(spark, tbl, _docs_df(spark, rows[0:6]))
    writes = []
    real_write = refresh_mod._write_manifest

    def spy(path, man):
        writes.append(dict(man))
        real_write(path, man)

    monkeypatch.setattr(refresh_mod, "_write_manifest", spy)
    assert refresh_from_snapshot(
        spark, tbl, store, "doc_id", ["text"], stem=False
    ) == 1
    monkeypatch.setattr(refresh_mod, "_write_manifest", real_write)
    assert len(writes) == 1
    assert writes[0]["segments"] == ["seg-snap-1-1"]
    assert writes[0]["snapshot_version"] == 1

    # (2) fabricate the old crashed state: window (1,2] published and
    # LISTED, checkpoint still 1 — then a THIRD commit lands
    snap.commit_append(spark, tbl, _docs_df(spark, rows[6:12]))
    refresh_segment(
        spark,
        snap.read_appends(spark, tbl, 1, 2),
        store, "doc_id", ["text"], stem=False,
        segment_name="snap-2-2",
    )
    man = _read_manifest(store)
    assert man["snapshot_version"] == 1  # unstamped — the crash state
    assert "seg-snap-2-2" in man["segments"]
    snap.commit_append(spark, tbl, _docs_df(spark, rows[12:15]))

    # replay must index ONLY window (2,3] — never rows 6..11 again
    assert refresh_from_snapshot(
        spark, tbl, store, "doc_id", ["text"], stem=False
    ) == 3
    man = _read_manifest(store)
    assert "seg-snap-3-3" in man["segments"]
    assert not any(s.startswith("seg-snap-2-3") for s in man["segments"])
    assert load_segmented(spark, store).num_docs == 15
