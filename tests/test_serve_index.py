"""Persisted-index serving path + k-means IVF tests."""

import math

import pytest
from pyspark.sql import functions as F

from metastore_spark import similarity as sim
from metastore_spark.search.index import build_index
from metastore_spark.search.scoring import bm25_scores
from metastore_spark.search.serve import load_index, materialize_index


def test_persisted_index_equals_in_memory(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "idx")
    materialize_index(spark, docs, "doc_id", ["text"], path, stem=False)

    mem_idx = build_index(docs, "doc_id", ["text"], stem=False)
    disk_idx = load_index(spark, path)
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


def test_postings_term_pushdown(spark, tmp_path):
    import contextlib
    import io

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "idx2")
    materialize_index(spark, docs, "doc_id", ["text"], path, stem=False)
    idx = load_index(spark, path)
    scan = idx.postings.filter(F.col("term").isin(["spark", "join"]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scan.explain("formatted")
    assert "PushedFilters" in buf.getvalue()
    assert "In(term" in buf.getvalue()  # the term list reached the scan


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
    assert len(siblings) == 1 and siblings[0].startswith("documents-")
