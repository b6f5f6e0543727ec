"""Similarity-search query bindings on the embeddings table."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metastore_spark import similarity as sim
from metastore_spark.queries import query, _t, _scaled_width


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Fetch one embedding as the query parameter (driver-side scalar
    fetch of a single row — a parameter lookup, not a data loop)."""
    row = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row["embedding"]]


@query(
    "ann_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    )
    SELECT vec_id,
           ROUND(list_dot_product(embedding::DOUBLE[], qv)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
    FROM embeddings, q
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the vec_id=0 query vector.

    The exact baseline every ANN variant is measured against; compiles
    to one scan + TakeOrderedAndProject.
    """
    qvec = _query_vec(spark, sf_dir, 0)
    return sim.cosine_topk(_t(spark, sf_dir, "embeddings"), qvec, k=10)


def _srp_oracle(
    n_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.3,
    per_vec_cap: int | None = None,
) -> str:
    """DuckDB mirror of the SRP-LSH blocked join: the hyperplanes are
    embedded as full-precision literals, so the oracle reproduces the
    bucketing EXACTLY — including its recall misses. Both engines
    compute each plane dot as the same sequential left fold over
    identical doubles, so the sign bits (and hence buckets) agree
    bit-for-bit."""
    planes = sim._hyperplanes(dim, n_planes)
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    base = f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
    ),
    pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                 4) AS cos_sim
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
          >= {threshold}
    )"""
    if per_vec_cap is None:
        return base + "\nSELECT id_a, id_b, cos_sim FROM pairs"
    # cap ranks on the ROUNDED sim (the cross-engine-stable value; raw
    # GEMM vs fold doubles differ at machine precision), id_b tiebreak
    return base + f"""
    SELECT id_a, id_b, cos_sim FROM (
      SELECT id_a, id_b, cos_sim,
             row_number() OVER (PARTITION BY id_a
                                ORDER BY cos_sim DESC, id_b) AS rn
      FROM pairs
    ) WHERE rn <= {per_vec_cap}
    """


@query("emb_near_pairs", oracle=_srp_oracle(per_vec_cap=8))
def emb_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, BOUNDED both ways
    (VERDICT r9 task 3, closing the sf1 rows-only exception): SRP-LSH
    blocking bounds CANDIDATES (pairs materialize only inside a
    random-hyperplane bucket, never O(n²)) and a per-vector 8-NN cap
    bounds the OUTPUT to ≤ 8n rows — the simhash treatment. The cap
    ranks on the rounded similarity (desc, id_b tiebreak), the value
    both engines agree on bit-for-bit, and applies entirely inside
    the per-bucket GEMM kernel — a vector lives in exactly one
    bucket, so no extra exchange. Oracle mirrors bucketing (literal
    hyperplanes), threshold, and cap, so the full approximate
    pipeline is value-hash-checked — recall misses included — and is
    runnable at sf1+ (bucketed join, not all-pairs). The uncapped
    thresholded twin is emb_near_pairs_srp; exact all-pairs semantics
    (quadratic-output contract) were retired with it.

    Threshold 0.3 — the synthetic corpus has no true near-dups (max
    pairwise cosine ≈ 0.48), so the gate exercises a non-empty tail.
    """
    return sim.cosine_near_pairs(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.3,
        dim=64,
        n_planes=8,
        per_vec_cap=8,
    )


def _cos(a: str, b: str) -> str:
    """DuckDB cosine between two DOUBLE[] expressions — the identical
    op order Spark's cosine_sim_lit uses (sequential dot folds, sqrt
    norms, one divide), so the doubles agree bit-for-bit."""
    return (
        f"(list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))))"
    )


_IVF_ORACLE = f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    asg AS (
      SELECT vec_id, cid AS centroid_id FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos('e.embedding::DOUBLE[]', 'c.cv')} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT cid FROM cent, q
      ORDER BY {_cos('cv', 'qv')} DESC, cid
      LIMIT 3
    )
    SELECT e.vec_id,
           ROUND({_cos('e.embedding::DOUBLE[]', 'qv')}, 4) AS cos_sim
    FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id, q
    WHERE asg.centroid_id IN (SELECT cid FROM probe)
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """


def _served_ivf8(spark: SparkSession, sf_dir: str):
    """The ivf8 serving store shared by ann_ivf_topk and
    ann_ivf_recall: ONE builder for the (tag, source, content)
    serve.materialized key, so the serving query and its recall eval
    can never drift onto different index definitions."""
    import os

    from metastore_spark import serve

    emb = _t(spark, sf_dir, "embeddings")
    centroids = sim.sampled_centroids(emb, k=8)
    indexed = serve.materialized(
        spark,
        [os.path.join(sf_dir, "embeddings.parquet")],
        "ivf8",
        lambda: sim.ivf_assign(emb, centroids),
        partition_by=["centroid_id"],
    )
    return emb, centroids, indexed


@query("ann_ivf_topk", oracle=_IVF_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF two-stage ANN, value-hash oracled END-TO-END: deterministic
    sampled coarse quantizer (the 8 lowest-id vectors — a pure-SQL
    rule), literal-folded argmin assignment (earliest centroid wins
    ties on both sides), top-3-probe pruning, exact search inside the
    probed lists — the oracle reproduces every stage including the
    recall misses of unprobed lists. The k-means quantizer
    (kmeans_centroids) remains the balanced-lists index build, pinned
    by tests/test_serve_index.py and tests/test_similarity.py.

    The assignment table is a SERVED index (serve.materialized,
    partitioned by centroid_id): built once per corpus content at
    ingest, and the nprobe filter is then directory pruning — the
    probe scan opens nprobe of k partition dirs, the 100 TB ANN
    serving shape."""
    import os

    from metastore_spark import serve

    emb = _t(spark, sf_dir, "embeddings")
    centroids = sim.sampled_centroids(emb, k=8)
    indexed = serve.materialized(
        spark,
        [os.path.join(sf_dir, "embeddings.parquet")],
        "ivf8",
        lambda: sim.ivf_assign(emb, centroids),
        partition_by=["centroid_id"],
    )
    qvec = _query_vec(spark, sf_dir, 0)
    return sim.ivf_topk(indexed, centroids, qvec, k=10, nprobe=3)


_BATCH_TOPK_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    sims AS (
      SELECT q.qid, e.vec_id,
             {_cos('e.embedding::DOUBLE[]', 'qv')} AS raw
      FROM embeddings e CROSS JOIN q
    ),
    r AS (
      SELECT qid, vec_id, ROUND(raw, 4) AS cos_sim,
             row_number() OVER (
               PARTITION BY qid ORDER BY raw DESC, vec_id
             ) AS rn
      FROM sims
    )
    SELECT qid, vec_id, cos_sim FROM r WHERE rn <= 10
    """


@query("ann_batch_topk", oracle=_BATCH_TOPK_ORACLE)
def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN: top-10 neighbors for a BATCH of query vectors in
    one pass — the retrieval shape of RAG/eval pipelines (thousands of
    queries amortize one corpus scan; per-query scans would rescan the
    corpus per query). The 5 query vectors fold into the plan as
    literals (unrolled codegen dots, one small expression per query),
    each corpus row emits (qid, sim) pairs via inline, and the top-k
    is a per-qid window — partitioned by query, so the ranking
    parallelizes across the batch. Value-hash oracled: ranking happens
    on the unrounded double (identical arithmetic both engines),
    rounding is presentation-only."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < 5)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    import math

    # one norm fold per ROW (not per query entry — interpreted HOF
    # folds get no common-subexpression elimination, so an inline
    # _norm in each entry would cost batch_size folds per row)
    normed = emb.select(
        "vec_id", "embedding", sim._norm(F.col("embedding")).alias("_nrm")
    )
    entries = []
    for r in qrows:
        qv = [float(x) for x in r["embedding"]]
        qnorm = math.sqrt(sum(x * x for x in qv))
        raw = sim._dot_lit_unrolled(F.col("embedding"), qv) / (
            F.col("_nrm") * F.lit(qnorm)
        )
        entries.append(
            F.struct(
                F.lit(int(r["vec_id"])).cast("bigint").alias("qid"),
                raw.alias("raw"),
            )
        )
    from pyspark.sql import Window

    exploded = normed.select("vec_id", F.inline(F.array(*entries)))
    w = Window.partitionBy("qid").orderBy(F.desc("raw"), F.asc("vec_id"))
    return (
        exploded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("qid", "vec_id", F.round("raw", 4).alias("cos_sim"))
    )


# SemDeDup cluster count scales with the corpus (the paper keeps mean
# cluster size roughly constant): k = max(8, ceil(n / 2500)). With
# fixed k the per-cluster GEMM is (n/k)² — quadratic in corpus size
# (measured 9s at sf1 → 131s at sf3); constant cluster size makes it
# linear. At the oracle-checked small SFs the formula yields exactly
# the historical k=8, so hashes are unchanged.
SEMDEDUP_TARGET_CLUSTER = 2500


def _semdedup_k(n: int) -> int:
    return max(8, -(-n // SEMDEDUP_TARGET_CLUSTER))


_SEMDEDUP_ORACLE = f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings
      WHERE vec_id < (SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 2500.0)
                                              AS BIGINT))
                      FROM embeddings)
    ),
    asg AS (
      SELECT vec_id, embedding, cid AS centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos('e.embedding::DOUBLE[]', 'c.cv')} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    )
    SELECT b.vec_id,
           b.centroid_id,
           ROUND(MAX({_cos('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')}),
                 4) AS max_sim_to_keeper
    FROM asg a JOIN asg b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE {_cos('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')} >= 0.3
    GROUP BY b.vec_id, b.centroid_id
    """


@query(
    "emb_semdedup",
    oracle=_SEMDEDUP_ORACLE,
    validation_only=True,
    scale_path="emb_semdedup_pruned",
)
def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over embeddings (SemDeDup, Abbas et al. 2023 —
    public method): cluster with the coarse quantizer, then inside
    each cluster prune every vector that has a lower-id neighbor above
    the cosine threshold (lowest id is the kept exemplar). Returns the
    PRUNED vectors with their cluster and their strongest similarity
    to a surviving lower id.

    Scale shape: the pair join is an equi-join on centroid_id — the
    exact-all-pairs cost is confined to a cluster, never the corpus
    (the same blocking argument as LSH bands). Norms are computed once
    per vector before the join. Value-hash oracled end-to-end: the
    deterministic sampled quantizer makes assignment, pairing, and the
    pruning decision pure SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.sampled_centroids(emb, k=_semdedup_k(emb.count()))
    # norms fold ONCE per vector pre-join (O(m) folds, not O(m²));
    # the per-pair work is then just the dot — same sequential
    # arithmetic, so oracle bit-equality is unchanged
    asg = sim.ivf_assign(emb, cents).withColumn(
        "_nrm", sim._norm(F.col("embedding"))
    )
    # Salted shuffle-hash join, same reasoning as dedup_jaccard_pairs:
    # there are only ~n/2500 distinct centroid keys, the per-key work
    # is quadratic in cluster size, and Catalyst's file-sized estimate
    # would broadcast one side and stream the other in file-split
    # count partitions (measured: 1225 s at sf1 on ~2 cores). Salting
    # the b side by hash(vec_id)%S with an S-way probe explode on a,
    # then repartitioning BOTH sides on the exact equi-keys (explicit
    # count — exempt from AQE byte-based coalescing) pins a
    # ShuffledHashJoin whose tasks split every cluster's pair work S
    # ways; each pair still matches exactly once (b's salt is
    # single-valued).
    S = 16
    # SIZE-DERIVED width (r12, guide §2.2/§2.5): one partition per
    # ~8 MB of raw embedding payload instead of the fixed
    # defaultParallelism*8 — 256 near-empty tasks per exchange on the
    # small fixtures, a constant at 100 TB. The salt split and the
    # pinned ShuffledHashJoin are unchanged.
    fanout = _scaled_width(spark, sf_dir, "embeddings", "embedding")
    a = (
        asg.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("emb_a"),
            F.col("_nrm").alias("nrm_a"),
            F.col("centroid_id"),
        )
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(S - 1))))
        .repartition(fanout, "centroid_id", "salt")
    )
    b = (
        asg.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("emb_b"),
            F.col("_nrm").alias("nrm_b"),
            F.col("centroid_id"),
        )
        .withColumn(
            "salt", F.pmod(F.xxhash64("id_b"), F.lit(S)).cast("int")
        )
        .repartition(fanout, "centroid_id", "salt")
        .hint("shuffle_hash")
    )
    # unrolled codegen dot (same left-to-right arithmetic as the fold
    # and as DuckDB list_dot_product — bit-identical, ~10× faster on
    # the pair join); 64 = the corpus's fixed embedding dimension
    cos = sim._dot_cols_unrolled(F.col("emb_a"), F.col("emb_b"), 64) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    return (
        a.join(b, ["centroid_id", "salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= 0.3)
        .groupBy(F.col("id_b").alias("vec_id"), F.col("centroid_id"))
        .agg(F.round(F.max("_cos"), 4).alias("max_sim_to_keeper"))
    )


@query("emb_near_pairs_srp", oracle=_srp_oracle())
def emb_near_pairs_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH-blocked cosine near-pairs, UNCAPPED: the thresholded
    twin of emb_near_pairs for consumers that need every qualifying
    edge (clustering must not lose spoke docs to a directed cap).
    Candidates only materialize inside a random-hyperplane bucket
    (equi-join on the 8-bit sign key), never O(n²). The oracle
    mirrors the bucketing with literal hyperplanes, so this is a
    value-hash check of the PRODUCTION approximate operator, recall
    misses and all (Charikar 2002 SRP; deterministic LCG hyperplanes,
    seed 7)."""
    return sim.cosine_near_pairs(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.3,
        dim=64,
        n_planes=8,
    )


@query(
    "ann_sq8_topk",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    s AS (
      SELECT 127.0 / MAX(list_max(list_transform(embedding::DOUBLE[],
                                                 x -> abs(x)))) AS scale
      FROM embeddings
    ),
    qq AS (
      SELECT list_transform(qv, x -> floor(x * scale + 0.5)) AS qqv
      FROM q, s
    ),
    cand AS (
      SELECT vec_id, embedding,
             list_dot_product(
               list_transform(embedding::DOUBLE[],
                              x -> floor(x * scale + 0.5)),
               qqv) AS qdot
      FROM embeddings, s, qq
      ORDER BY qdot DESC, vec_id
      LIMIT 50
    )
    SELECT vec_id,
           ROUND(list_dot_product(embedding::DOUBLE[], qv)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
    FROM cand, q
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized ANN top-10 with exact rerank (see
    similarity.sq8_topk). The oracle mirrors BOTH stages: quantized
    candidate selection is integer-exact across engines, and the
    rerank reuses the ann_cosine_topk expression — so even a
    quantization-induced recall miss would still hash-match."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir, 0)
    return sim.sq8_topk(e, qvec, sim.corpus_maxabs(e), k=10, n_cand=50)


@query(
    "ann_pq_topk",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    s AS (
      SELECT 127.0 / MAX(list_max(list_transform(embedding::DOUBLE[],
                                                 x -> abs(x)))) AS scale
      FROM embeddings
    ),
    vq AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS iv
      FROM embeddings, s
    ),
    cb AS (SELECT vec_id AS c, iv AS cv FROM vq WHERE vec_id < 16),
    assigns AS (
      SELECT v.vec_id, sp.range AS sub, cb.c,
             list_sum(list_transform(range(1, 9),
               i -> (v.iv[sp.range*8+i] - cb.cv[sp.range*8+i])
                    * (v.iv[sp.range*8+i] - cb.cv[sp.range*8+i]))) AS dist
      FROM vq v CROSS JOIN range(0, 8) sp CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, sub, c FROM (
        SELECT vec_id, sub, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, c) AS rn
        FROM assigns
      ) WHERE rn = 1
    ),
    qdist AS (SELECT sub, c, dist FROM assigns WHERE vec_id = 0),
    approx AS (
      SELECT codes.vec_id, SUM(qd.dist) AS approx_dist
      FROM codes JOIN qdist qd ON qd.sub = codes.sub AND qd.c = codes.c
      GROUP BY 1
    ),
    cand AS (
      SELECT a.vec_id, e.embedding
      FROM approx a JOIN embeddings e USING (vec_id)
      ORDER BY a.approx_dist, a.vec_id
      LIMIT 50
    )
    SELECT vec_id,
           ROUND(list_dot_product(embedding::DOUBLE[], qv)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
    FROM cand, q
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-10 (int8-domain PQ, 8 subspaces x
    16 data-sampled codewords, asymmetric-distance scoring, exact
    rerank of 50 candidates — similarity.pq_topk).

    The entire PQ pipeline is integer arithmetic after quantization,
    so the oracle mirrors ALL of it in SQL: codebook build, per-
    subspace argmin encoding (ties to the lowest code on both
    engines), ADC lookup sums, candidate cut, and the final rerank.
    An approximate operator with an exact cross-engine contract."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir, 0)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 16)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    return sim.pq_topk(
        e, qvec, cents, sim.corpus_maxabs(e), k=10, n_cand=50
    )


_IVF_PQ_ORACLE = f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    asg AS (
      SELECT vec_id, cid AS centroid_id FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos('e.embedding::DOUBLE[]', 'c.cv')} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT cid FROM cent, q
      ORDER BY {_cos('cv', 'qv')} DESC, cid
      LIMIT 3
    ),
    pv AS (
      SELECT vec_id FROM asg
      WHERE centroid_id IN (SELECT cid FROM probe)
    ),
    s AS (
      SELECT 127.0 / MAX(list_max(list_transform(embedding::DOUBLE[],
                                                 x -> abs(x)))) AS scale
      FROM embeddings
    ),
    vq AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS iv
      FROM embeddings, s
      WHERE vec_id IN (SELECT vec_id FROM pv)
         OR vec_id < 16 OR vec_id = 0
    ),
    cb AS (SELECT vec_id AS c, iv AS cv FROM vq WHERE vec_id < 16),
    assigns AS (
      SELECT v.vec_id, sp.range AS sub, cb.c,
             list_sum(list_transform(range(1, 9),
               i -> (v.iv[sp.range*8+i] - cb.cv[sp.range*8+i])
                    * (v.iv[sp.range*8+i] - cb.cv[sp.range*8+i]))) AS dist
      FROM vq v CROSS JOIN range(0, 8) sp CROSS JOIN cb
      WHERE v.vec_id IN (SELECT vec_id FROM pv) OR v.vec_id = 0
    ),
    codes AS (
      SELECT vec_id, sub, c FROM (
        SELECT vec_id, sub, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, c) AS rn
        FROM assigns
      ) WHERE rn = 1 AND vec_id IN (SELECT vec_id FROM pv)
    ),
    qdist AS (SELECT sub, c, dist FROM assigns WHERE vec_id = 0),
    approx AS (
      SELECT codes.vec_id, SUM(qd.dist) AS approx_dist
      FROM codes JOIN qdist qd ON qd.sub = codes.sub AND qd.c = codes.c
      GROUP BY 1
    ),
    cand AS (
      SELECT a.vec_id, e.embedding
      FROM approx a JOIN embeddings e USING (vec_id)
      ORDER BY a.approx_dist, a.vec_id
      LIMIT 50
    )
    SELECT vec_id,
           ROUND({_cos('embedding::DOUBLE[]', 'qv')}, 4) AS cos_sim
    FROM cand, q
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """


@query("ann_ivf_pq_topk", oracle=_IVF_PQ_ORACLE)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (similarity.ivf_pq_topk): coarse routing
    over the SAME served ivf8 store ann_ivf_topk probes (directory
    pruning, nprobe=3 of 8 lists), int8-domain PQ asymmetric-distance
    scoring inside the probed lists only, exact rerank of 50.

    The at-scale serving architecture in one oracled query: scan cost
    is nprobe/k of the corpus × n_sub code bytes per row, and the
    oracle mirrors every stage — coarse assignment (ties to lowest
    cid), probe cut, PQ encode/ADC (exact int64s), candidate and
    final cuts — so IVF recall misses AND PQ candidate misses
    hash-match across engines."""
    emb, centroids, indexed = _served_ivf8(spark, sf_dir)
    qvec = _query_vec(spark, sf_dir, 0)
    pq_cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    return sim.ivf_pq_topk(
        indexed,
        centroids,
        pq_cents,
        qvec,
        sim.corpus_maxabs(emb),
        k=10,
        nprobe=3,
        n_cand=50,
    )


@query(
    "emb_covariance",
    oracle="""
    WITH cells AS (
      SELECT t1.range AS i, t2.range AS j,
             SUM(embedding[t1.range + 1]::DOUBLE
                 * embedding[t2.range + 1]::DOUBLE) AS xtx,
             SUM(embedding[t1.range + 1]::DOUBLE)   AS sx_i,
             CAST(COUNT(*) AS BIGINT)               AS n
      FROM embeddings
      CROSS JOIN range(64) t1 CROSS JOIN range(64) t2
      GROUP BY 1, 2
    )
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           -- + 0.0 canonicalizes IEEE negative zero: DuckDB ROUND
           -- yields -0.0 where Spark yields 0.0
           ROUND((xtx - sx_i * (SELECT sx_i FROM cells c2
                                WHERE c2.i = cells.j AND c2.j = cells.j)
                         / n) / n, 6) + 0.0 AS cov
    FROM cells
    """,
)
def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance matrix of the embedding corpus — the PCA/whitening
    front-end — from a DISTRIBUTED Gram matrix: per-partition numpy
    GEMMs reduce as dim²-sized partials (the exchange carries
    O(partitions × dim²) floats, never vectors), then the covariance
    forms cell-wise. The oracle recomputes every cell from raw data
    by position cross-join. Eigen-decomposition of the 64×64 result
    is a driver-side numpy call (parameter-sized, like the PQ
    codebooks) — the distributed work IS the sufficient statistics."""
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("embedding")
    )
    g = sim.gram_matrix(e, dim=64)
    # sx_j via self-join on the diagonal-free pivot: sx depends only
    # on the row index, so join the j-sums back by index
    sj = g.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("j2"), F.col("sx_i").alias("sx_j")
    )
    return (
        g.join(F.broadcast(sj), g.j == sj.j2)
        .select(
            "i",
            "j",
            (
                F.round(
                    (F.col("xtx") - F.col("sx_i") * F.col("sx_j") / F.col("n"))
                    / F.col("n"),
                    6,
                )
                + F.lit(0.0)  # canonicalize -0.0 (see oracle comment)
            ).alias("cov"),
        )
    )


def _kmeans_oracle(k: int = 4, dim: int = 64, iters: int = 2) -> str:
    """Unrolled-CTE mirror of quantized Lloyd's: every stage is exact
    int64 arithmetic (floor(x*1e6+0.5)+1e6 quantization keeps all
    values positive, so Spark's `div` truncation == DuckDB's `//`
    floor), so assignments match bit-for-bit — the PQ/pagerank oracle
    pattern applied to an iterative ML training loop."""
    d2 = (
        "list_sum(list_transform(range(64), i -> "
        "(q.qv[i+1] - {c}.cv[i+1]) * (q.qv[i+1] - {c}.cv[i+1])))"
    )
    parts = [f"""
    q AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(floor(x::DOUBLE * 1000000.0 + 0.5) AS BIGINT)
               + 1000000) AS qv
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {k})"""]
    for it in range(1, iters + 1):
        prev = f"c{it-1}"
        dist = d2.format(c=prev)
        parts.append(f"""
    a{it} AS (
      SELECT vec_id, cid FROM (
        SELECT q.vec_id, {prev}.cid,
               row_number() OVER (
                 PARTITION BY q.vec_id ORDER BY {dist}, {prev}.cid
               ) AS rn
        FROM q CROSS JOIN {prev}
      ) WHERE rn = 1
    )""")
        if it < iters:
            parts.append(f"""
    u{it} AS (
      SELECT a{it}.cid, t.range AS pos,
             SUM(q.qv[t.range + 1]) // COUNT(*) AS cval
      FROM a{it} JOIN q USING (vec_id) CROSS JOIN range({dim}) t
      GROUP BY 1, 2
    ),
    c{it} AS (
      SELECT cid, list(cval ORDER BY pos) AS cv FROM u{it} GROUP BY cid
    )""")
    body = ",".join(parts)
    return f"""
    WITH {body}
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM a{iters}
    """


@query("emb_kmeans_quantized", oracle=_kmeans_oracle())
def emb_kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means TRAINING (Lloyd's, k=4, 2 iterations) with
    a value-exact oracle: vectors quantize to positive int64s
    (floor(x*1e6+0.5)+1e6 — same dodge as SQ8: no banker's rounding,
    truncating div == floor div), assignment is a literal-folded
    integer-L2 argmin (one scan per iteration, no shuffle), and the
    centroid update is a posexplode partial-agg whose exchange carries
    k x dim sums — the Lloyd iteration at any scale. Centroids live
    driver-side between iterations (k x dim ints — parameters, like
    the PQ codebooks). DuckDB unrolls the same two iterations as
    chained CTEs, every stage exact integer arithmetic, so the final
    assignment hash-matches including tie-breaks (lowest centroid id
    wins)."""
    k, dim = 4, 64
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "cast(floor(cast(x as double) * 1000000.0 + 0.5) as bigint)"
            " + 1000000)"
        ).alias("qv"),
    )
    # centroids keyed by their REAL cid (= seed vec_id, mirroring the
    # oracle's `SELECT vec_id AS cid`): a list would re-label clusters
    # by position whenever one empties, silently diverging from the
    # oracle's preserved labels. Empty clusters DROP (the oracle's
    # c{it} only contains cids with surviving members).
    cents = {
        int(r["vec_id"]): [int(x) for x in r["qv"]]
        for r in e.filter(F.col("vec_id") < k).collect()
    }

    def assign(cur: dict[int, list[int]]) -> DataFrame:
        # array-of-structs argmin (array_min on struct(dist, cid)) —
        # each exact-integer distance evaluated once; a chained
        # when-ladder would copy every prior distance subtree twice
        # per step (2^k expression growth). struct min ties break to
        # the lowest cid, same as the oracle's row_number() ORDER BY
        # dist, cid.
        cands = []
        for ci, c in sorted(cur.items()):
            d = None
            for i in range(dim):
                t = F.element_at("qv", i + 1) - F.lit(c[i])
                term = t * t
                d = term if d is None else d + term
            cands.append(F.struct(d.alias("d"), F.lit(ci).alias("ci")))
        best_id = F.array_min(F.array(*cands))["ci"]
        return e.select("vec_id", "qv", best_id.alias("cid"))

    for it in range(2):
        assigned = assign(cents)
        if it == 1:
            break
        upd = (
            assigned.select("cid", F.posexplode("qv").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.expr("sum(v) div count(1)").alias("cval"))
            .collect()
        )
        nxt: dict[int, list[int]] = {}
        for r in upd:
            nxt.setdefault(int(r["cid"]), [0] * dim)[r["pos"]] = int(r["cval"])
        cents = nxt
    return assigned.select(
        "vec_id", F.col("cid").cast("bigint").alias("cluster_id")
    )


@query("emb_semdedup_pruned", oracle=_SEMDEDUP_ORACLE)
def emb_semdedup_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION SemDeDup path: same cluster-confined pruning as
    `emb_semdedup`, but the within-cluster similarity is ONE numpy
    GEMM per cluster (Arrow applyInPandas) instead of a codegen pair
    join — m @ m.T on the cluster block, O((n/k)²) floats per task and
    no join machinery. Measured at sf1: the pair-join twin grinds for
    tens of minutes on 156M in-cluster pairs while this kernel does
    the same arithmetic as a handful of BLAS calls. Shares the exact
    twin's SQL oracle: BLAS summation order differs from the fold at
    the last bit, but the 4-dp round and the pytest equality pin
    (tests/test_similarity.py) hold the outputs identical."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.sampled_centroids(emb, k=_semdedup_k(emb.count()))
    return sim.semdedup_prune(emb, cents, threshold=0.3).select(
        "vec_id",
        "centroid_id",
        (F.col("max_sim_to_keeper") + F.lit(0.0)).alias("max_sim_to_keeper"),
    )


def _pca_oracle(dim: int = 64, s1: int = 10**7, s2: int = 10**9) -> str:
    """Unrolled mirror of integer power iteration. fdiv(a, d) =
    (a - posmod(a, d)) // d is EXACT floor division for signed a
    (the subtraction makes a divisible, so truncating and floor
    division agree) — the signed-value counterpart of the all-
    positive `div` dodge the kmeans oracle uses."""

    def fdiv(a: str, d: int) -> str:
        return f"CAST(({a} - (({a} % {d}) + {d}) % {d}) // {d} AS BIGINT)"

    fdiv_n = (
        "CAST((g - ((g % n.n) + n.n) % n.n) // n.n AS BIGINT)"
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(floor(x::DOUBLE * 1000000.0 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
    g AS (
      SELECT t1.range AS i, t2.range AS j,
             CAST(SUM(qv[t1.range + 1] * qv[t2.range + 1]) AS BIGINT) AS g
      FROM q CROSS JOIN range({dim}) t1 CROSS JOIN range({dim}) t2
      GROUP BY 1, 2
    ),
    c AS (SELECT i, j, {fdiv_n} AS c FROM g CROSS JOIN n),
    v1 AS (SELECT i, CAST(SUM(c) AS BIGINT) AS v1 FROM c GROUP BY i),
    v1s AS (SELECT i, {fdiv('v1', 10**7)} AS v FROM v1),
    v2 AS (
      SELECT c.i AS i, CAST(SUM(c.c * v1s.v) AS BIGINT) AS v2
      FROM c JOIN v1s ON c.j = v1s.i GROUP BY c.i
    ),
    v2s AS (SELECT i, {fdiv('v2', 10**9)} AS v FROM v2)
    SELECT q.vec_id,
           CAST(SUM(q.qv[v2s.i + 1] * v2s.v) AS BIGINT) AS pc1_score
    FROM q CROSS JOIN v2s
    GROUP BY q.vec_id
    """


@query("emb_pca_power_projection", oracle=_pca_oracle())
def emb_pca_power_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA eigen-solve + projection: two power-iteration
    steps on the (uncentered) second-moment matrix, in EXACT integer
    arithmetic end to end, then every vector scored against the
    resulting top singular direction — the missing middle of the PCA
    story between `emb_covariance` (sufficient statistics) and any
    whitening/projection consumer.

    Cross-engine exactness: vectors quantize to signed int64
    (floor(x·1e6 + 0.5)); the Gram matrix reduces as per-partition
    numpy int64 GEMMs (exact — any summation order agrees); the
    iteration normalizes by floor division at fixed literal scales
    (1e7, 1e9 — sized so the worst-case |score| stays inside int64
    even on an adversarial corpus), where fdiv(a,d) =
    (a − pmod(a,d)) div d is exact floor division for SIGNED values
    (subtraction makes a divisible; truncating == floor on
    divisibles), mirroring DuckDB's `//`. Per-cell normalization by
    N makes every later magnitude scale-factor-invariant.

    Scale shape: the only distributed work is one Gram pass
    (exchange carries O(partitions × dim²) ints) and one map-only
    projection scan with the 64 direction components folded in as
    literals (the kmeans-assign pattern). The driver holds dim²
    ints — parameters, like the PQ codebooks."""
    dim, s1, s2 = 64, 10**7, 10**9
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "cast(floor(cast(x as double) * 1000000.0 + 0.5) as bigint))"
        ).alias("qv"),
    )
    parts = sim.int_gram_partials(e, dim=dim)
    G = [[0] * dim for _ in range(dim)]
    N = 0
    for flat, pn in parts:
        N += pn
        for i in range(dim):
            row = G[i]
            base = i * dim
            for j in range(dim):
                row[j] += flat[base + j]
    if N == 0:
        # empty embeddings table: no principal direction exists —
        # return the empty (vec_id, pc1_score) frame, not a div-by-0
        return e.select(
            "vec_id", F.lit(None).cast("bigint").alias("pc1_score")
        )
    # Python // IS floor division — identical to the oracle's fdiv.
    C = [[g // N for g in row] for row in G]
    v1 = [sum(row) for row in C]
    v1s = [v // s1 for v in v1]
    v2 = [sum(C[i][j] * v1s[j] for j in range(dim)) for i in range(dim)]
    v2s = [v // s2 for v in v2]
    score = None
    for i, w in enumerate(v2s):
        term = F.element_at("qv", i + 1) * F.lit(int(w))
        score = term if score is None else score + term
    return e.select("vec_id", score.cast("bigint").alias("pc1_score"))


_IVF_RECALL_ORACLE = f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    asg AS (
      SELECT vec_id, cid AS centroid_id FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos('e.embedding::DOUBLE[]', 'c.cv')} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {_cos('c.cv', 'q.qv')} DESC, c.cid
               ) AS rn
        FROM cent c CROSS JOIN q
      ) WHERE rn <= 3
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY COALESCE({_cos('e.embedding::DOUBLE[]', 'q.qv')},
                                   -2.0) DESC, e.vec_id
               ) AS rn
        FROM embeddings e CROSS JOIN q
      ) WHERE rn <= 10
    ),
    ivf AS (
      SELECT qid, vec_id FROM (
        SELECT p.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY p.qid
                 ORDER BY COALESCE({_cos('e.embedding::DOUBLE[]', 'q.qv')},
                                   -2.0) DESC, e.vec_id
               ) AS rn
        FROM embeddings e
        JOIN asg ON e.vec_id = asg.vec_id
        JOIN probe p ON asg.centroid_id = p.cid
        JOIN q ON q.qid = p.qid
      ) WHERE rn <= 10
    ),
    hit AS (
      SELECT e.qid, e.vec_id
      FROM exact e JOIN ivf f ON e.qid = f.qid AND e.vec_id = f.vec_id
    )
    SELECT q.qid,
           CAST(COUNT(hit.vec_id) AS BIGINT) AS hits,
           ROUND(COUNT(hit.vec_id) / 10.0, 4) AS recall_at_10
    FROM q LEFT JOIN hit ON q.qid = hit.qid
    GROUP BY q.qid
    ORDER BY q.qid
    """


@query("ann_ivf_recall", oracle=_IVF_RECALL_ORACLE)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index QUALITY EVALUATION: recall@10 of the served IVF index
    (8 lists, nprobe=3) against the exact brute-force top-10, over a
    5-query panel — the measurement loop every production ANN
    deployment runs before trading recall for probe fan-in. The oracle
    reproduces BOTH retrieval paths (assignment, probe pruning,
    in-list ranking, exact ranking) and the set intersection, so the
    recall numbers themselves are value-hash-checked — including the
    recall misses of unprobed lists.

    Scale shape: the panel's query vectors fold into the plan as
    literals, so each side is ONE pass. The exact side scans the
    corpus once emitting (qid, sim) candidates; the IVF side scans
    only the union of probed centroid partitions of the served index
    (directory pruning, same store `ann_ivf_topk` serves). Both
    top-10s go through `grouped_topk` — per-partition Arrow partial
    top-k, exchange carries ≤ partitions × panel × 10 candidate rows,
    never the corpus. The recall join and the final agg run on
    panel-sized frames (≤ 50 rows).
    """
    emb, centroids, indexed = _served_ivf8(spark, sf_dir)
    qvecs = _panel_qvecs(emb)
    return _ivf_recall_eval(
        spark, emb, centroids, indexed, qvecs,
        exact=_served_exact_top10(spark, sf_dir, emb, qvecs),
    )


def _panel_qvecs(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """The 5-query eval panel every recall harness in this module
    shares (vec_id < 5, id-ordered)."""
    qrows = (
        emb.filter(F.col("vec_id") < 5)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    return [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows
    ]


def _ivf_recall_eval(
    spark, emb, centroids, indexed, qvecs, nprobe=3, exact=None
):
    """Shared IVF recall@10 machinery (exact leg, probe-pruned leg,
    hit join, per-query recall) for the prefix-quantizer and
    trained-quantizer evals — see ann_ivf_recall's docstring for the
    scale shape. ``exact`` injects the served ground-truth top-10
    (`_served_exact_top10`; bit-identical to the in-line fold leg)."""
    from metastore_spark.operators.topk import grouped_topk

    probes = {
        qid: sim.ivf_probe(centroids, qv, nprobe) for qid, qv in qvecs
    }
    all_cids = sorted({c for ps in probes.values() for c in ps})

    def _cands(src: DataFrame, pruned: bool) -> DataFrame:
        # fold-form cosine per panel entry, NOT the unrolled literal
        # chain: a 5-query × 64-dim unrolled expression costs ~1300
        # driver-side Column constructions (py4j round trips) — 4.7 s
        # of PLAN BUILD measured at any SF, dwarfing the ~0.05 s of
        # executor time the unrolling saves on this panel size.
        # Zero-norm rows coalesce to a -2.0 sentinel — ranked last,
        # never a NULL order key for the top-k kernel — mirrored in
        # the oracle.
        keep = ["centroid_id"] if pruned else []
        normed = src.select("vec_id", "embedding", *keep)
        entries = []
        for qid, qv in qvecs:
            raw = F.coalesce(
                sim.cosine_sim_lit(F.col("embedding"), qv),
                F.lit(-2.0),
            )
            ok = (
                F.col("centroid_id").isin(probes[qid])
                if pruned
                else F.lit(True)
            )
            entries.append(
                F.struct(
                    F.lit(qid).cast("bigint").alias("qid"),
                    raw.alias("raw"),
                    ok.alias("ok"),
                )
            )
        return (
            normed.select(
                "vec_id",
                F.explode(
                    F.filter(F.array(*entries), lambda e: e["ok"])
                ).alias("e"),
            )
            .select("vec_id", F.col("e.qid").alias("qid"), F.col("e.raw").alias("raw"))
        )

    if exact is None:
        exact = grouped_topk(
            _cands(emb, pruned=False),
            ["qid"],
            [("raw", False), ("vec_id", True)],
            10,
        ).select("qid", "vec_id")
    ivf = grouped_topk(
        _cands(indexed.filter(F.col("centroid_id").isin(all_cids)), pruned=True),
        ["qid"],
        [("raw", False), ("vec_id", True)],
        10,
    ).select("qid", "vec_id")

    hits = (
        exact.join(ivf, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    panel = spark.createDataFrame(
        [(qid,) for qid, _ in qvecs], "qid bigint"
    )
    h = F.coalesce(F.col("hits"), F.lit(0)).cast("bigint")
    # deliberately NOT broadcast-hinted: the tiny-panel SMJ looks
    # wasteful in the static plan, but hinting F.broadcast(hits)
    # forces the ENTIRE scoring pipeline (hits' subtree) into a
    # blocking broadcast build — measured 2x SLOWER for ivf recall
    # (in-session interleaved A/B, best 3.98 s vs 1.97 s at sf0.1).
    # AQE already localizes the final join at runtime.
    return (
        panel.join(hits, "qid", "left")
        .select(
            "qid",
            h.alias("hits"),
            F.round(h / F.lit(10.0), 4).alias("recall_at_10"),
        )
        .orderBy("qid")
    )


_MRL_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    dims(trunc_dim) AS (VALUES (8), (16), (32)),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY COALESCE({_cos('e.embedding::DOUBLE[]', 'q.qv')},
                                   -2.0) DESC, e.vec_id
               ) AS rn
        FROM embeddings e CROSS JOIN q
      ) WHERE rn <= 10
    ),
    trunc AS (
      SELECT qid, trunc_dim, vec_id FROM (
        SELECT q.qid, d.trunc_dim, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid, d.trunc_dim
                 ORDER BY COALESCE({_cos('(e.embedding::DOUBLE[])[1:d.trunc_dim]',
                                         '(q.qv)[1:d.trunc_dim]')},
                                   -2.0) DESC, e.vec_id
               ) AS rn
        FROM embeddings e CROSS JOIN q CROSS JOIN dims d
      ) WHERE rn <= 10
    ),
    hit AS (
      SELECT t.qid, t.trunc_dim, t.vec_id
      FROM trunc t JOIN exact e ON e.qid = t.qid AND e.vec_id = t.vec_id
    )
    SELECT p.qid, p.trunc_dim,
           CAST(COUNT(hit.vec_id) AS BIGINT) AS hits,
           ROUND(COUNT(hit.vec_id) / 10.0, 4) AS recall_at_10
    FROM (SELECT qid, trunc_dim FROM q CROSS JOIN dims) p
    LEFT JOIN hit ON hit.qid = p.qid AND hit.trunc_dim = p.trunc_dim
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@query("ann_mrl_recall", oracle=_MRL_ORACLE)
def ann_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation quality sweep: recall@10 of cosine search
    over the first {8,16,32} of 64 embedding dims vs the full-dim
    exact top-10, per panel query — the dimension-vs-recall curve a
    deployment measures before serving truncated (MRL-style)
    embeddings to cut index bytes 2-8x (Kusupati et al.,
    "Matryoshka Representation Learning").

    Scale shape: ONE corpus pass computes all 20 (panel x dim-level)
    candidate streams — the truncated dots are prefix sums of the same
    row's products (numpy cumsum, Arrow-batched), so the scan cost is
    the full-dim scan, not 4x. Top-10s via grouped_topk
    (per-partition Arrow partial top-k: the exchange carries <=
    partitions x 20 x 10 rows). Recall join + agg on panel-sized
    frames. At 100 TB the eval costs one read of the embedding
    column, same as ann_ivf_recall.

    Determinism: np.cumsum must emit every intermediate, so it is the
    SAME left-to-right sequential double accumulation as
    F.aggregate / DuckDB list_dot_product on the [1:d] slice — prefix
    dots and norms are bit-identical across engines. Zero-norm
    prefixes hit a NaN-vs-NULL engine seam (numpy 0/0 = NaN; DuckDB
    x/0 = NULL) — both are pinned to the -2.0 sentinel explicitly.
    """
    from metastore_spark.operators.topk import grouped_topk

    emb = _t(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < 5)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    qvecs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows
    ]
    dims = [8, 16, 32, 64]  # 64 = the exact baseline leg

    # One Arrow-vectorized kernel computes all 20 (panel x dim-level)
    # sims per corpus pass — the _pq_adc_scores precedent. 24
    # interpreted HOF folds per row (fold form) measured ~10 s at
    # sf0.01; numpy cumsum is the SAME left-to-right sequential
    # accumulation as F.aggregate / DuckDB list_dot_product (cumsum
    # must emit every intermediate, so it cannot reassociate), so
    # prefix dots and prefix norms stay bit-identical to the oracle.
    import math

    import numpy as np
    import pandas as pd

    qmat = np.array([qv for _, qv in qvecs], dtype=np.float64)  # Q x D
    qids_arr = [qid for qid, _ in qvecs]
    qnorms = np.array(
        [
            [math.sqrt(sum(float(x) * float(x) for x in qv[:d])) for d in dims]
            for _, qv in qvecs
        ]
    )  # Q x |dims|
    d_idx = np.array(dims) - 1

    def mrl_sims(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            csq = np.cumsum(X * X, axis=1)  # N x D prefix square-sums
            nrm = np.sqrt(csq[:, d_idx])  # N x |dims|
            out = []
            for qi, qid in enumerate(qids_arr):
                cdot = np.cumsum(X * qmat[qi], axis=1)[:, d_idx]
                with np.errstate(divide="ignore", invalid="ignore"):
                    raw = cdot / (nrm * qnorms[qi])
                raw = np.where(np.isfinite(raw), raw, -2.0)
                for di, d in enumerate(dims):
                    out.append(
                        pd.DataFrame(
                            {
                                "vec_id": pdf["vec_id"].values,
                                "qid": np.int64(qid),
                                "trunc_dim": np.int32(d),
                                "raw": raw[:, di],
                            }
                        )
                    )
            yield pd.concat(out)

    cands = emb.select("vec_id", "embedding").mapInPandas(
        mrl_sims, schema="vec_id bigint, qid bigint, trunc_dim int, raw double"
    )
    topk = grouped_topk(
        cands,
        ["qid", "trunc_dim"],
        [("raw", False), ("vec_id", True)],
        10,
    ).select("qid", "trunc_dim", "vec_id")

    exact = topk.filter(F.col("trunc_dim") == 64).select("qid", "vec_id")
    trunc = topk.filter(F.col("trunc_dim") < 64)
    hits = (
        trunc.join(exact, ["qid", "vec_id"])
        .groupBy("qid", "trunc_dim")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    panel = spark.createDataFrame(
        [(qid, d) for qid, _ in qvecs for d in dims if d < 64],
        "qid bigint, trunc_dim int",
    )
    h = F.coalesce(F.col("hits"), F.lit(0)).cast("bigint")
    return (
        # NOT broadcast-hinted (see ann_ivf_recall's note): hinting
        # hits forces its whole scoring subtree into a blocking
        # broadcast build — measured slower (6.4 s vs 4.4 s best).
        panel.join(hits, ["qid", "trunc_dim"], "left")
        .select(
            "qid",
            "trunc_dim",
            h.alias("hits"),
            F.round(h / F.lit(10.0), 4).alias("recall_at_10"),
        )
        .orderBy("qid", "trunc_dim")
    )


_PQ_RECALL_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    s AS (
      SELECT 127.0 / MAX(list_max(list_transform(embedding::DOUBLE[],
                                                 x -> abs(x)))) AS scale
      FROM embeddings
    ),
    vq AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS iv
      FROM embeddings, s
    ),
    cb AS (SELECT vec_id AS c, iv AS cv FROM vq WHERE vec_id < 16),
    assigns AS (
      SELECT v.vec_id, sp.range AS sub, cb.c,
             list_sum(list_transform(range(1, 9),
               i -> (v.iv[sp.range*8+i] - cb.cv[sp.range*8+i])
                    * (v.iv[sp.range*8+i] - cb.cv[sp.range*8+i]))) AS dist
      FROM vq v CROSS JOIN range(0, 8) sp CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, sub, c FROM (
        SELECT vec_id, sub, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, c) AS rn
        FROM assigns
      ) WHERE rn = 1
    ),
    qdist AS (
      SELECT q.qid, a.sub, a.c, a.dist
      FROM assigns a JOIN q ON a.vec_id = q.qid
    ),
    approx AS (
      SELECT qd.qid, codes.vec_id, SUM(qd.dist) AS approx_dist
      FROM codes JOIN qdist qd ON qd.sub = codes.sub AND qd.c = codes.c
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY approx_dist, vec_id) AS rn
        FROM approx
      ) WHERE rn <= 50
    ),
    pq AS (
      SELECT qid, vec_id FROM (
        SELECT c.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY c.qid
                 ORDER BY COALESCE({_cos('e.embedding::DOUBLE[]', 'q.qv')},
                                   -2.0) DESC, e.vec_id
               ) AS rn
        FROM cand c
        JOIN embeddings e USING (vec_id)
        JOIN q ON q.qid = c.qid
      ) WHERE rn <= 10
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY COALESCE({_cos('e.embedding::DOUBLE[]', 'q.qv')},
                                   -2.0) DESC, e.vec_id
               ) AS rn
        FROM embeddings e CROSS JOIN q
      ) WHERE rn <= 10
    ),
    hit AS (
      SELECT e.qid, e.vec_id
      FROM exact e JOIN pq p ON e.qid = p.qid AND e.vec_id = p.vec_id
    )
    SELECT q.qid,
           CAST(COUNT(hit.vec_id) AS BIGINT) AS hits,
           ROUND(COUNT(hit.vec_id) / 10.0, 4) AS recall_at_10
    FROM q LEFT JOIN hit ON q.qid = hit.qid
    GROUP BY q.qid
    ORDER BY q.qid
    """


@query("ann_pq_recall", oracle=_PQ_RECALL_ORACLE)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index QUALITY EVALUATION: recall@10 of int8-domain product
    quantization (8 subspaces, 16-entry codebook, ADC scoring,
    50-candidate exact rerank) vs the exact top-10, per panel query —
    completes the eval matrix next to ann_ivf_recall so the
    recall-vs-bytes trade of every served index variant is a
    hash-checked number, not a claim.

    Scale shape: the corpus is PQ-ENCODED ONCE per pass
    (sim.pq_adc_scores_panel — numpy broadcast argmin, no shuffle);
    each panel query adds only an (n_sub x n_cent) int table lookup,
    so a Q-query eval costs one scan + Q table probes, not Q scans.
    Candidate cuts via grouped_topk (exchange carries <= partitions x
    panel x 50 rows); exact math only on the 250 candidate rows
    (broadcast semi-join back to full precision). At 100 TB: eval
    cost = the nightly index-build encode pass it would piggyback on.

    Determinism: every ADC distance is an exact int64 in the
    quantized domain (ties argmin -> lowest code; candidate and final
    cuts order by (score, id)), so quantization-induced candidate
    misses — the thing this eval measures — reproduce bit-for-bit in
    the oracle's integer SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    qvecs = _panel_qvecs(emb)
    pq_cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    scored = sim.pq_adc_scores_panel(
        emb, qvecs, pq_cents, sim.corpus_maxabs(emb)
    )
    return _panel_recall_from_scored(
        spark, emb, qvecs, scored,
        exact=_served_exact_top10(spark, sf_dir, emb, qvecs),
    )


def _served_exact_top10(spark, sf_dir, emb, qvecs):
    """The recall evals' shared GROUND TRUTH — exact cosine top-10 per
    panel query — as a fingerprint-keyed serving artifact
    (`serve.materialized`): computed once per corpus content by the
    Arrow panel kernel, reopened as a 50-row parquet by every
    subsequent eval. This is how eval harnesses work in production
    (FAISS-style cached ground truth per corpus snapshot), and it
    removes the repeated corpus-wide exact pass that made each recall
    eval pay — and jitter on — two extra Python stages per run
    (VERDICT r7 task 4: the bench gate's noisiest units)."""
    from metastore_spark.operators.topk import grouped_topk
    from metastore_spark.serve import materialized

    src = os.path.join(sf_dir, "embeddings.parquet")
    return materialized(
        spark,
        [src],
        "ann_exact_top10",
        lambda: grouped_topk(
            sim.panel_cosine_scores(emb, qvecs),
            ["qid"],
            [("raw", False), ("vec_id", True)],
            10,
        ).select("qid", "vec_id"),
    )


def _panel_recall_from_scored(
    spark, emb, qvecs, scored, n_cand=50, exact=None
):
    """Shared recall@10 tail for the PQ evals: candidate cut per qid
    by (approx_dist, vec_id), exact rerank of the broadcast candidate
    set, exact top-10 leg via the Arrow panel-cosine kernel, hit join,
    per-query recall — the exact structure _PQ_RECALL_ORACLE mirrors."""
    from metastore_spark.operators.topk import grouped_topk

    # The candidate set is PARAMETER-SIZED (panel x n_cand rows), but
    # as a lazy plan every broadcast build below would recompute its
    # whole upstream — the corpus ADC encode pass ran 2-3x per eval,
    # which both tripled the eval's cost and made it the bench gate's
    # noisiest unit (VERDICT r7 task 4). Materialize it ONCE driver-
    # side (a bounded collect, same class as the centroid tables) and
    # rebind as a literal frame: the encode pass now runs exactly
    # once, and the rerank/exact legs are independent single passes.
    cand_local = grouped_topk(
        scored, ["qid"], [("approx_dist", True), ("vec_id", True)], n_cand
    ).select("qid", "vec_id").collect()
    id_type = emb.schema["vec_id"].dataType.simpleString()
    cand = spark.createDataFrame(
        cand_local, f"qid bigint, vec_id {id_type}"
    )

    # exact rerank of the candidate rows through the Arrow panel
    # kernel (scores bit-identical to the literal-fold form — see
    # panel_cosine_scores), then keep each candidate's OWN (qid,
    # vec_id) pair. The kernel replaces a 5-way literal when-chain of
    # 64-term fold expressions whose Catalyst analysis + codegen cost
    # also destabilized this eval's wall time at any SF.
    cand_rows = emb.join(
        F.broadcast(cand.select("vec_id").distinct()), "vec_id"
    )
    rerank = sim.panel_cosine_scores(cand_rows, qvecs).join(
        F.broadcast(cand), ["qid", "vec_id"]
    )
    pq_leg = grouped_topk(
        rerank.select("qid", "vec_id", "raw"),
        ["qid"],
        [("raw", False), ("vec_id", True)],
        10,
    ).select("qid", "vec_id")

    if exact is None:
        exact = grouped_topk(
            sim.panel_cosine_scores(emb, qvecs),
            ["qid"],
            [("raw", False), ("vec_id", True)],
            10,
        ).select("qid", "vec_id")

    hits = (
        exact.join(pq_leg, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    panel = spark.createDataFrame([(qid,) for qid, _ in qvecs], "qid bigint")
    h = F.coalesce(F.col("hits"), F.lit(0)).cast("bigint")
    return (
        # not broadcast-hinted — see ann_ivf_recall's note
        panel.join(hits, "qid", "left")
        .select(
            "qid",
            h.alias("hits"),
            F.round(h / F.lit(10.0), 4).alias("recall_at_10"),
        )
        .orderBy("qid")
    )


def _pq_trained_oracle() -> str:
    """Unrolled-CTE mirror of the TRAINED-codebook PQ recall eval:
    per-subspace quantized Lloyd's (2 iterations, offset domain so
    every update mean is positive-int division), final encoding, ADC,
    candidate cut, exact rerank, recall — the _kmeans_oracle technique
    composed with _PQ_RECALL_ORACLE (VERDICT r6 task 3)."""
    dist = (
        "list_sum(list_transform(range(8), i -> "
        "({a}.svec[i+1] - {c}.cv[i+1]) * ({a}.svec[i+1] - {c}.cv[i+1])))"
    )
    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    s AS (
      SELECT 127.0 / MAX(list_max(list_transform(embedding::DOUBLE[],
                                                 x -> abs(x)))) AS scale
      FROM embeddings
    ),
    v AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * scale + 0.5) AS BIGINT)
                                 + 128) AS ov
      FROM embeddings, s
    ),
    sv AS (
      SELECT vec_id, sp.range AS sub,
             v.ov[sp.range*8 + 1 : sp.range*8 + 8] AS svec
      FROM v CROSS JOIN range(0, 8) sp
    ),
    c0 AS (SELECT sub, vec_id AS cid, svec AS cv FROM sv WHERE vec_id < 16),
    d1 AS (
      SELECT sv.vec_id, sv.sub, c0.cid,
             {dist.format(a='sv', c='c0')} AS dist
      FROM sv JOIN c0 USING (sub)
    ),
    a1 AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, cid) AS rn
        FROM d1
      ) WHERE rn = 1
    ),
    u1 AS (
      SELECT a1.sub, a1.cid, t.range AS pos,
             SUM(sv.svec[t.range + 1]) // COUNT(*) AS cval
      FROM a1 JOIN sv USING (vec_id, sub) CROSS JOIN range(8) t
      GROUP BY 1, 2, 3
    ),
    c1 AS (
      SELECT sub, cid, list(cval ORDER BY pos) AS cv FROM u1 GROUP BY 1, 2
    ),
    d2 AS (
      SELECT sv.vec_id, sv.sub, c1.cid,
             {dist.format(a='sv', c='c1')} AS dist
      FROM sv JOIN c1 USING (sub)
    ),
    codes AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, cid) AS rn
        FROM d2
      ) WHERE rn = 1
    ),
    qdist AS (
      SELECT q.qid, d2.sub, d2.cid, d2.dist
      FROM d2 JOIN q ON d2.vec_id = q.qid
    ),
    approx AS (
      SELECT qd.qid, codes.vec_id, SUM(qd.dist) AS approx_dist
      FROM codes JOIN qdist qd ON qd.sub = codes.sub AND qd.cid = codes.cid
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY approx_dist, vec_id) AS rn
        FROM approx
      ) WHERE rn <= 50
    ),
    pq AS (
      SELECT qid, vec_id FROM (
        SELECT c.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY c.qid
                 ORDER BY COALESCE({_cos('e.embedding::DOUBLE[]', 'q.qv')},
                                   -2.0) DESC, e.vec_id
               ) AS rn
        FROM cand c
        JOIN embeddings e USING (vec_id)
        JOIN q ON q.qid = c.qid
      ) WHERE rn <= 10
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY COALESCE({_cos('e.embedding::DOUBLE[]', 'q.qv')},
                                   -2.0) DESC, e.vec_id
               ) AS rn
        FROM embeddings e CROSS JOIN q
      ) WHERE rn <= 10
    ),
    hit AS (
      SELECT e.qid, e.vec_id
      FROM exact e JOIN pq p ON e.qid = p.qid AND e.vec_id = p.vec_id
    )
    SELECT q.qid,
           CAST(COUNT(hit.vec_id) AS BIGINT) AS hits,
           ROUND(COUNT(hit.vec_id) / 10.0, 4) AS recall_at_10
    FROM q LEFT JOIN hit ON q.qid = hit.qid
    GROUP BY q.qid
    ORDER BY q.qid
    """


@query("ann_pq_recall_trained", oracle=_pq_trained_oracle())
def ann_pq_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ recall@10 with a TRAINED codebook (VERDICT r6 task 3): the
    distributed quantized-Lloyd's machinery of emb_kmeans_quantized,
    run per subspace (8 subspaces x 16 codewords x 2 iterations,
    sim.train_pq_codebooks), replaces the vec_id<16 data-prefix
    stand-in — so the published recall-vs-bytes number is one a
    deployment could actually ship.

    Oracle: the ENTIRE pipeline — per-subspace k-means (seeded by the
    same first-16 subvectors, offset domain so every centroid-update
    mean is positive-integer division on both engines), final
    encoding, ADC tables, candidate cut, exact rerank — unrolled as
    chained CTEs; assignments, codes, and candidate misses reproduce
    bit-for-bit.

    Scale shape: each Lloyd iteration is one Arrow map pass whose
    exchange carries only per-partition (sub, cid, pos) partial sums
    (sufficient statistics, <= partitions x 1024 rows); encode+ADC is
    the one corpus pass ann_pq_recall already pays; recall legs reuse
    grouped_topk + the panel-cosine kernel. Training cost at 100 TB =
    iters x the encode pass the index build pays anyway (train on a
    sampled partition in practice; exactness here is what makes the
    eval hash-checkable)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvecs = _panel_qvecs(emb)
    maxabs = sim.corpus_maxabs(emb)
    books = sim.train_pq_codebooks(
        emb, maxabs, n_sub=8, n_cent=16, iters=2
    )
    scored = sim.pq_adc_scores_panel_books(emb, qvecs, books, maxabs)
    return _panel_recall_from_scored(
        spark, emb, qvecs, scored,
        exact=_served_exact_top10(spark, sf_dir, emb, qvecs),
    )


def _ivf_trained_oracle() -> str:
    """Unrolled-CTE mirror of the TRAINED coarse quantizer: whole-
    vector quantized Lloyd's (k=8, 2 iterations, same 127/maxabs
    offset-128 domain as the PQ trainer), centroids DEQUANTIZED to
    doubles with the identical (x-128)/scale expression on both
    engines, then the proven _IVF_RECALL_ORACLE machinery (cosine
    assignment with ties to the lowest positional cid, top-3 probe,
    in-list vs exact top-10, recall join)."""
    dist = (
        "list_sum(list_transform(range(64), i -> "
        "({a}.ov[i+1] - {c}.cv[i+1]) * ({a}.ov[i+1] - {c}.cv[i+1])))"
    )
    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    s AS (
      SELECT 127.0 / MAX(list_max(list_transform(embedding::DOUBLE[],
                                                 x -> abs(x)))) AS scale
      FROM embeddings
    ),
    v AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * scale + 0.5) AS BIGINT)
                                 + 128) AS ov
      FROM embeddings, s
    ),
    c0 AS (SELECT vec_id AS kid, ov AS cv FROM v WHERE vec_id < 8),
    a1 AS (
      SELECT vec_id, kid FROM (
        SELECT v.vec_id, c0.kid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {dist.format(a='v', c='c0')},
                                           c0.kid) AS rn
        FROM v CROSS JOIN c0
      ) WHERE rn = 1
    ),
    u1 AS (
      SELECT a1.kid, t.range AS pos,
             SUM(v.ov[t.range + 1]) // COUNT(*) AS cval
      FROM a1 JOIN v USING (vec_id) CROSS JOIN range(64) t
      GROUP BY 1, 2
    ),
    c1 AS (SELECT kid, list(cval ORDER BY pos) AS cv FROM u1 GROUP BY kid),
    cent AS (
      SELECT row_number() OVER (ORDER BY kid) - 1 AS cid,
             list_transform(cv, x -> (x - 128)::DOUBLE / scale) AS cv
      FROM c1, s
    ),
    asg AS (
      SELECT vec_id, cid AS centroid_id FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos('e.embedding::DOUBLE[]', 'c.cv')} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {_cos('c.cv', 'q.qv')} DESC, c.cid
               ) AS rn
        FROM cent c CROSS JOIN q
      ) WHERE rn <= 3
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY COALESCE({_cos('e.embedding::DOUBLE[]', 'q.qv')},
                                   -2.0) DESC, e.vec_id
               ) AS rn
        FROM embeddings e CROSS JOIN q
      ) WHERE rn <= 10
    ),
    ivf AS (
      SELECT qid, vec_id FROM (
        SELECT p.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY p.qid
                 ORDER BY COALESCE({_cos('e.embedding::DOUBLE[]', 'q.qv')},
                                   -2.0) DESC, e.vec_id
               ) AS rn
        FROM embeddings e
        JOIN asg ON e.vec_id = asg.vec_id
        JOIN probe p ON asg.centroid_id = p.cid
        JOIN q ON q.qid = p.qid
      ) WHERE rn <= 10
    ),
    hit AS (
      SELECT e.qid, e.vec_id
      FROM exact e JOIN ivf f ON e.qid = f.qid AND e.vec_id = f.vec_id
    )
    SELECT q.qid,
           CAST(COUNT(hit.vec_id) AS BIGINT) AS hits,
           ROUND(COUNT(hit.vec_id) / 10.0, 4) AS recall_at_10
    FROM q LEFT JOIN hit ON q.qid = hit.qid
    GROUP BY q.qid
    ORDER BY q.qid
    """


@query("ann_ivf_recall_trained", oracle=_ivf_trained_oracle())
def ann_ivf_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@10 with TRAINED coarse centroids (VERDICT r6 task 3,
    IVF half): the whole-vector quantized-Lloyd's loop
    (sim.train_pq_codebooks with n_sub=1, k=8, 2 iterations) replaces
    the vec_id<8 prefix quantizer; trained int centroids dequantize
    through the identical (x-128)/scale expression on both engines and
    feed the SAME served-store build + probe machinery as
    ann_ivf_recall (serve.materialized partitioned by centroid_id,
    nprobe=3 directory pruning).

    Scale shape: training adds iters Arrow map passes whose exchange
    carries k x dim partial sums; the store build, probe pruning, and
    both recall legs are unchanged from ann_ivf_recall. Balanced
    trained lists also debias probe cost: prefix seeds can leave one
    giant list that every probe pays for.

    Measured (this corpus): coarse-quantizer recall is FLAT within
    ±1 hit/50 across 2-4 Lloyd iterations and vs the prefix quantizer
    (47/47 at sf0.001, 46-48 at sf0.01) — the synthetic embeddings
    are near-isotropic, so prefix lists are already balanced. The
    measurable training win on this corpus is the PQ codebook
    (ann_pq_recall_trained: +4 hits at sf0.001, +6 at sf0.01);
    tests/test_similarity.py pins trained >= prefix on both."""
    import os

    from metastore_spark import serve

    emb = _t(spark, sf_dir, "embeddings")
    qvecs = _panel_qvecs(emb)
    maxabs = sim.corpus_maxabs(emb)
    (cids, C) = sim.train_pq_codebooks(
        emb, maxabs, n_sub=1, n_cent=8, iters=2
    )[0]
    scale = 127.0 / maxabs
    centroids = [[(int(x) - 128) / scale for x in row] for row in C]
    indexed = serve.materialized(
        spark,
        [os.path.join(sf_dir, "embeddings.parquet")],
        "ivf8t",
        lambda: sim.ivf_assign(emb, centroids),
        partition_by=["centroid_id"],
    )
    return _ivf_recall_eval(
        spark, emb, centroids, indexed, qvecs,
        exact=_served_exact_top10(spark, sf_dir, emb, qvecs),
    )


def _ivf_pq_trained_oracle() -> str:
    """The fully-TRAINED serving composition, unrolled: coarse k-means
    (k=8, whole vectors) -> dequantized centroids -> cosine routing +
    probe pruning; per-subspace PQ k-means (8x16) -> encoding of the
    PROBED lists only -> ADC -> exact rerank. Every stage is a CTE
    already proven in _ivf_trained_oracle / _pq_trained_oracle /
    _IVF_PQ_ORACLE — this composes them."""
    kdist = (
        "list_sum(list_transform(range(64), i -> "
        "({a}.ov[i+1] - {c}.cv[i+1]) * ({a}.ov[i+1] - {c}.cv[i+1])))"
    )
    pdist = (
        "list_sum(list_transform(range(8), i -> "
        "({a}.svec[i+1] - {c}.cv[i+1]) * ({a}.svec[i+1] - {c}.cv[i+1])))"
    )
    return f"""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    s AS (
      SELECT 127.0 / MAX(list_max(list_transform(embedding::DOUBLE[],
                                                 x -> abs(x)))) AS scale
      FROM embeddings
    ),
    v AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * scale + 0.5) AS BIGINT)
                                 + 128) AS ov
      FROM embeddings, s
    ),
    kc0 AS (SELECT vec_id AS kid, ov AS cv FROM v WHERE vec_id < 8),
    ka1 AS (
      SELECT vec_id, kid FROM (
        SELECT v.vec_id, kc0.kid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {kdist.format(a='v', c='kc0')},
                                           kc0.kid) AS rn
        FROM v CROSS JOIN kc0
      ) WHERE rn = 1
    ),
    ku1 AS (
      SELECT ka1.kid, t.range AS pos,
             SUM(v.ov[t.range + 1]) // COUNT(*) AS cval
      FROM ka1 JOIN v USING (vec_id) CROSS JOIN range(64) t
      GROUP BY 1, 2
    ),
    kc1 AS (SELECT kid, list(cval ORDER BY pos) AS cv FROM ku1 GROUP BY kid),
    cent AS (
      SELECT row_number() OVER (ORDER BY kid) - 1 AS cid,
             list_transform(cv, x -> (x - 128)::DOUBLE / scale) AS cv
      FROM kc1, s
    ),
    asg AS (
      SELECT vec_id, cid AS centroid_id FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos('e.embedding::DOUBLE[]', 'c.cv')} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT cid FROM cent, q
      ORDER BY {_cos('cv', 'qv')} DESC, cid
      LIMIT 3
    ),
    pv AS (
      SELECT vec_id FROM asg
      WHERE centroid_id IN (SELECT cid FROM probe)
    ),
    sv AS (
      SELECT vec_id, sp.range AS sub,
             v.ov[sp.range*8 + 1 : sp.range*8 + 8] AS svec
      FROM v CROSS JOIN range(0, 8) sp
    ),
    pc0 AS (SELECT sub, vec_id AS cid, svec AS cv FROM sv WHERE vec_id < 16),
    pd1 AS (
      SELECT sv.vec_id, sv.sub, pc0.cid,
             {pdist.format(a='sv', c='pc0')} AS dist
      FROM sv JOIN pc0 USING (sub)
    ),
    pa1 AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, cid) AS rn
        FROM pd1
      ) WHERE rn = 1
    ),
    pu1 AS (
      SELECT pa1.sub, pa1.cid, t.range AS pos,
             SUM(sv.svec[t.range + 1]) // COUNT(*) AS cval
      FROM pa1 JOIN sv USING (vec_id, sub) CROSS JOIN range(8) t
      GROUP BY 1, 2, 3
    ),
    pc1 AS (
      SELECT sub, cid, list(cval ORDER BY pos) AS cv FROM pu1 GROUP BY 1, 2
    ),
    pd2 AS (
      SELECT sv.vec_id, sv.sub, pc1.cid,
             {pdist.format(a='sv', c='pc1')} AS dist
      FROM sv JOIN pc1 USING (sub)
      WHERE sv.vec_id IN (SELECT vec_id FROM pv) OR sv.vec_id = 0
    ),
    codes AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, cid) AS rn
        FROM pd2
      ) WHERE rn = 1 AND vec_id IN (SELECT vec_id FROM pv)
    ),
    qdist AS (SELECT sub, cid, dist FROM pd2 WHERE vec_id = 0),
    approx AS (
      SELECT codes.vec_id, SUM(qd.dist) AS approx_dist
      FROM codes JOIN qdist qd ON qd.sub = codes.sub AND qd.cid = codes.cid
      GROUP BY 1
    ),
    cand AS (
      SELECT a.vec_id, e.embedding
      FROM approx a JOIN embeddings e USING (vec_id)
      ORDER BY a.approx_dist, a.vec_id
      LIMIT 50
    )
    SELECT vec_id,
           ROUND({_cos('embedding::DOUBLE[]', 'qv')}, 4) AS cos_sim
    FROM cand, q
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """


@query("ann_ivf_pq_topk_trained", oracle=_ivf_pq_trained_oracle())
def ann_ivf_pq_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULLY-TRAINED IVF-PQ serving path (VERDICT r6 task 3,
    composed): k-means-trained coarse centroids route to nprobe=3 of 8
    lists on the SAME served store ann_ivf_recall_trained builds
    (directory pruning), k-means-trained per-subspace PQ codebooks
    score inside the probed lists (exact-int64 ADC), exact rerank of
    50 — no data-prefix stand-in anywhere in the index. The oracle
    unrolls BOTH training loops and the whole retrieval pipeline as
    CTEs, so training, routing, encoding, candidate, and final cuts
    all hash-match.

    Scale shape: identical to ann_ivf_pq_topk (nprobe/k of the corpus
    x n_sub code bytes per row; full-precision math on 50 rows) plus
    the training passes the index build pays once per corpus."""
    import os

    from metastore_spark import serve

    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir, 0)
    maxabs = sim.corpus_maxabs(emb)
    (kids, KC) = sim.train_pq_codebooks(
        emb, maxabs, n_sub=1, n_cent=8, iters=2
    )[0]
    scale = 127.0 / maxabs
    centroids = [[(int(x) - 128) / scale for x in row] for row in KC]
    books = sim.train_pq_codebooks(emb, maxabs, n_sub=8, n_cent=16, iters=2)
    indexed = serve.materialized(
        spark,
        [os.path.join(sf_dir, "embeddings.parquet")],
        "ivf8t",
        lambda: sim.ivf_assign(emb, centroids),
        partition_by=["centroid_id"],
    )
    return sim.ivf_pq_topk_books(
        indexed, centroids, books, qvec, maxabs, k=10, nprobe=3, n_cand=50
    )
