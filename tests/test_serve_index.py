"""Served search index (one index segment in a build-once store) +
k-means IVF tests."""

import math
from collections import OrderedDict

from pyspark.sql import functions as F

from metastore_spark import similarity as sim
from metastore_spark.search.index import build_index
from metastore_spark.search.refresh import _write_segment, load_segments
from metastore_spark.search.scoring import bm25_scores


def _served(spark, docs, path):
    """The served index's shape (`queries_search._index_for`): one
    segment written straight into its directory, no manifest."""
    _write_segment(spark, docs, "doc_id", ["text"], path, False)
    return load_segments(spark, [path])


def test_persisted_index_equals_in_memory(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    disk_idx = _served(spark, docs, str(tmp_path / "idx"))
    mem_idx = build_index(docs, "doc_id", ["text"], stem=False)
    assert disk_idx.num_docs == mem_idx.num_docs
    assert disk_idx.avgdl["text"] == mem_idx.avgdl["text"]
    q = "spark join stream"
    mem = {
        r["doc_id"]: round(r["score"], 6)
        for r in bm25_scores(mem_idx, q, {"text": 1.0}, stem=False).collect()
    }
    disk = {
        r["doc_id"]: round(r["score"], 6)
        for r in bm25_scores(disk_idx, q, {"text": 1.0}, stem=False).collect()
    }
    assert mem == disk
    assert len(disk) > 0
    mem_idx.unpersist()


def test_postings_term_pushdown(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = _served(spark, docs, str(tmp_path / "idx2"))
    plan = (
        idx.postings.filter(F.col("term").isin(["spark", "join"]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan
    assert plan.count("In(term, [join,spark])") == 1  # the list reached the scan


def _vec(i: int, dim: int = 8) -> list[float]:
    base = [math.sin(0.5 * (i % 4) + 0.3 * j) for j in range(dim)]
    return [b + 0.01 * math.cos(i * 7.3 + j) for j, b in enumerate(base)]


def test_kmeans_improves_ivf_recall(spark):
    # 4 natural clusters by i%4
    emb = spark.createDataFrame(
        [(i, _vec(i)) for i in range(80)], "vec_id bigint, embedding array<float>"
    )
    centroids = sim.kmeans_centroids(emb, k=4, max_iter=8)
    assert len(centroids) == 4
    indexed = sim.ivf_assign(emb, centroids)
    # every natural cluster maps to exactly one centroid partition
    spread = (
        indexed.withColumn("nat", F.col("vec_id") % 4)
        .groupBy("nat")
        .agg(F.countDistinct("centroid_id").alias("nc"))
        .collect()
    )
    assert all(r["nc"] == 1 for r in spread)

    q = _vec(5)
    exact = [r["vec_id"] for r in sim.cosine_topk(emb, q, k=5).collect()]
    approx = [
        r["vec_id"]
        for r in sim.ivf_topk(indexed, centroids, q, k=5, nprobe=1).collect()
    ]
    assert set(exact) == set(approx)  # nprobe=1 suffices with good centroids


def test_index_for_detects_rewritten_corpus(spark, tmp_path, monkeypatch):
    """The serving cache must re-index when the corpus content
    changes (fingerprint covers the parquet directory's files, and
    the in-session cache is keyed by it)."""
    import os
    from metastore_spark import queries_search as qs
    from metastore_spark import serve

    monkeypatch.setattr(serve, "_WAREHOUSE", str(tmp_path / "wh"))
    sf_dir = str(tmp_path / "corpus")
    os.makedirs(sf_dir)
    docs_path = os.path.join(sf_dir, "documents.parquet")
    spark.createDataFrame(
        [(1, "spark join stream", "en", "src0", 17)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(docs_path)

    idx1 = qs._index_for(spark, sf_dir)
    assert idx1.num_docs == 1

    spark.createDataFrame(
        [
            (1, "spark join stream", "en", "src0", 17),
            (2, "hash shuffle partition", "en", "src1", 22),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(docs_path)

    # the superseded index is pruned by an open once its replacement is
    # past the retention window (0 here; readers get _PRUNE_AGE_SEC):
    # only one serving dir remains for this source
    monkeypatch.setattr(serve, "_PRUNE_AGE_SEC", 0)
    idx2 = qs._index_for(spark, sf_dir)
    assert idx2.num_docs == 2  # stale index must NOT be served
    siblings = os.listdir(os.path.join(serve._WAREHOUSE, "serving_index"))
    assert len(siblings) == 1 and siblings[0].startswith("docs-typed-")


def test_served_search_reads_one_segment(spark, tmp_path, monkeypatch):
    """Reopening the served index and ranking `search_bm25_docs`'s
    top-20 takes 4 Spark jobs, the query's own: the segment's tables
    open under the schemas its stats.json records, with no inference
    job. The segment's df is exact, so its docfreq is read as written,
    with no aggregate."""
    from metastore_spark import queries_search as qs
    from metastore_spark import serve

    monkeypatch.setattr(serve, "_WAREHOUSE", str(tmp_path / "wh"))
    monkeypatch.setattr(qs, "_INDEX_CACHE", OrderedDict())
    sf = "/root/testdata/sf0.001"
    qs._index_for(spark, sf)  # build the store
    qs._INDEX_CACHE.clear()

    sc = spark.sparkContext
    group = "test-served-search-jobs"
    sc.setJobGroup(group, "open the served index and rank")
    try:
        rows = qs.search_bm25_docs(spark, sf).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 20
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4

    idx = qs._index_for(spark, sf)
    plan = idx.docfreq._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan
