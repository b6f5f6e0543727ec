"""Full-text search query bindings: the inverted index + BM25 ranking
bound to the documents table, with a complete DuckDB mirror of the
scoring formula as the oracle (stem-free analysis tier, so both
engines tokenize identically).
"""

from __future__ import annotations

import os
import shutil
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metastore_spark.queries import query, _t
from metastore_spark.search.analysis import ENGLISH_STOPWORDS
from metastore_spark.search.refresh import _write_segment, load_segments
from metastore_spark.search.scoring import bm25_scores
from metastore_spark.serve import build_once

_Q = "spark join stream"
_STOPS_SQL = ", ".join(f"'{s}'" for s in ENGLISH_STOPWORDS)
_TERMS_SQL = ", ".join(f"'{t}'" for t in _Q.split())

# Session-level handle cache: avoids re-opening the on-disk index per
# call. Keyed by Spark applicationId (stable and unique per session —
# id(spark) could be recycled by the allocator after a session dies)
# and the store path, which carries the corpus fingerprint.
# LRU-bounded: a long-lived session cycling through many corpora must
# not grow handles without limit.
_INDEX_CACHE: OrderedDict[tuple[str, str], object] = OrderedDict()
_INDEX_CACHE_MAX = 8


def _index_for(spark: SparkSession, sf_dir: str, stem: bool = False):
    """Serving-path index over the documents table: a build-once store
    (`serve.build_once`, one per corpus content and analysis tier) that
    is itself ONE index segment (`search/refresh.py`), so every later
    call in any session or process reopens the segment's tables instead
    of re-analyzing the corpus — the analyze-at-ingest trade ES makes
    (SCALE.md 'Full-text search'). A query touches only term-pruned
    postings + the docfreq and doclen side tables."""
    path = build_once(
        "serving_index",
        "docs-typed-stem" if stem else "docs-typed",
        [os.path.join(sf_dir, "documents.parquet")],
        lambda tmp: _write_segment(
            spark, _t(spark, sf_dir, "documents"), "doc_id", ["text"], tmp,
            stem,
        ),
    )
    if path is None:
        raise OSError("search index: the warehouse is not writable")
    key = (spark.sparkContext.applicationId, path)
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = load_segments(spark, [path])
        while len(_INDEX_CACHE) > _INDEX_CACHE_MAX:
            _INDEX_CACHE.popitem(last=False)  # evict least-recently-used
    _INDEX_CACHE.move_to_end(key)
    return _INDEX_CACHE[key]


@query(
    "search_bm25_docs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                         t -> t <> '' AND t NOT IN ({_STOPS_SQL})) AS toks
      FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tok),
    stats AS (SELECT AVG(len(toks)) AS avgdl, COUNT(*) AS nd FROM tok),
    flat AS (SELECT doc_id, unnest(toks) AS term FROM tok),
    post AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM flat WHERE term IN ({_TERMS_SQL})
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term),
    scored AS (
      SELECT p.doc_id,
             SUM( ln(1 + (nd - df + 0.5) / (df + 0.5))
                  * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
             ) AS s
      FROM post p
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY p.doc_id
    )
    SELECT doc_id, ROUND(s, 4) AS score
    FROM scored
    ORDER BY ROUND(s, 4) DESC, doc_id
    LIMIT 20
    """,
)
def search_bm25_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/O12 full-text relevance: inverted index + BM25 top-20.

    The oracle reproduces the entire pipeline (analysis → postings →
    corpus-global docfreq → BM25 k1=1.2 b=0.75 → top-k) in DuckDB SQL,
    value-hash-checking the real scores, not just row shapes.

    Reference semantics: multi_match scoring with dfs_query_then_fetch
    global IDF (metastore/models.py:88-96,141).
    """
    idx = _index_for(spark, sf_dir)
    scores = bm25_scores(idx, _Q, {"text": 1.0}, stem=False)
    return (
        scores.select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc(F.round(F.col("score"), 4)), F.asc("doc_id"))
        .limit(20)
    )


# --- stemmed tier -----------------------------------------------------------

# Query whose raw tokens appear NOWHERE in the corpus — every match
# goes through Porter ("queries"→queri≡"query", "tables"→tabl≡"table",
# "customers"→custom≡"customer"), so this pins the stemmed pipeline,
# not a lucky literal overlap.
_QS = "queries tables customers"


def _stemmed_oracle() -> str:
    from metastore_spark.search.analysis import analyze
    from metastore_spark.search.sql_stem import porter_ctes

    terms = sorted(set(analyze(_QS, stem=True)))
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    return f"""
    WITH rawtok AS (
      SELECT doc_id, unnest(string_split_regex(text, '[^0-9a-zA-Z'']+')) AS rt
      FROM documents
    ),
    tok AS (
      SELECT doc_id, t FROM (
        SELECT doc_id,
               trim(CASE WHEN lower(rt) LIKE '%''s'
                    THEN left(lower(rt), len(rt) - 2)
                    ELSE lower(rt) END, '''') AS t
        FROM rawtok WHERE rt <> ''
      ) WHERE t <> '' AND t NOT IN ({_STOPS_SQL})
    ),
    vocab AS (SELECT DISTINCT t AS w FROM tok),
    {porter_ctes('vocab')},
    stok AS (SELECT tk.doc_id, s.stem FROM tok tk JOIN stems s ON tk.t = s.tok),
    dlc AS (SELECT doc_id, COUNT(*) AS c FROM tok GROUP BY doc_id),
    dl AS (
      SELECT d.doc_id, COALESCE(dlc.c, 0) AS dl
      FROM documents d LEFT JOIN dlc ON d.doc_id = dlc.doc_id
    ),
    stats AS (SELECT AVG(dl) AS avgdl, COUNT(*) AS nd FROM dl),
    post AS (
      SELECT doc_id, stem AS term, COUNT(*) AS tf
      FROM stok WHERE stem IN ({terms_sql})
      GROUP BY doc_id, stem
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term),
    scored AS (
      SELECT p.doc_id,
             SUM( ln(1 + (nd - df + 0.5) / (df + 0.5))
                  * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
             ) AS s
      FROM post p
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY p.doc_id
    )
    SELECT doc_id, ROUND(s, 4) AS score
    FROM scored
    ORDER BY ROUND(s, 4) DESC, doc_id
    LIMIT 20
    """


@query("search_bm25_stemmed", oracle=_stemmed_oracle())
def search_bm25_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION analysis tier end-to-end: possessive strip +
    stop words + Porter stem (Arrow-batched analyze_udf at index
    build), BM25 top-20 from the persisted serving index. The oracle
    re-derives every stem independently — a full Porter implementation
    in DuckDB SQL (search/sql_stem.py, agreement with the Python
    stemmer pinned by tests/test_sql_stem.py) — then mirrors postings,
    corpus-global docfreq and the scoring formula, so the stemmed
    ranking is value-hash checked, not assumed from the stem-free
    tier. Reference scenario: stemming pinned by
    reference/tests/test_controllers.py:527-552 ("countries" ↔
    "country")."""
    idx = _index_for(spark, sf_dir, stem=True)
    scores = bm25_scores(idx, _QS, {"text": 1.0}, stem=True)
    return (
        scores.select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc(F.round(F.col("score"), 4)), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "search_bool_and_not",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                         t -> t <> '' AND t NOT IN ({_STOPS_SQL})) AS toks
      FROM documents
    )
    SELECT doc_id FROM tok
    WHERE list_contains(toks, 'spark') AND list_contains(toks, 'stream')
      AND NOT list_contains(toks, 'error')
    ORDER BY doc_id
    """,
)
def search_bool_and_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval on the SERVED inverted index: docs matching
    spark AND stream AND NOT error. The AND is a term-count over the
    term-pruned postings (each listed term's posting list is one
    bucket read; a doc qualifies when it appears under every required
    term), the NOT an anti-join against the excluded term's postings —
    no corpus scan, no re-analysis at query time. The ES bool
    must/must_not contract (reference filter algebra,
    metastore/models.py:97-105) expressed as posting-list algebra;
    the oracle re-analyzes the corpus directly."""
    must = ["spark", "stream"]
    idx = _index_for(spark, sf_dir)
    p = idx.postings.filter(F.col("field") == "text")
    anded = (
        p.filter(F.col("term").isin(must))
        .groupBy("doc_id")
        .agg(F.count_distinct("term").alias("nt"))
        .filter(F.col("nt") == len(must))
    )
    negs = p.filter(F.col("term") == "error").select("doc_id")
    return (
        anded.join(negs, "doc_id", "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


# --- ranking evaluation -----------------------------------------------------

# Three eval queries over the corpus vocabulary; graded pseudo-
# relevance = total occurrences of the query's terms in the document,
# capped at 7 — computed independently of the ranker being scored.
# (Occurrence-graded, not containment-graded: with a small vocabulary
# nearly every doc contains all three terms, which would make every
# ranking's NDCG equal 1.0 — the cap bounds the 2^rel gain.)
_EVAL_QS = ((1, "spark join stream"), (2, "hash merge sort"), (3, "window filter batch"))


def _ndcg_oracle() -> str:
    """DuckDB replica of NDCG@10: per eval query, the full BM25
    pipeline (same CTEs as search_bm25_docs), rank by the rounded
    score with doc_id tie-break, DCG@10 with ln-based log2, ideal DCG
    from the relevance-sorted prefix."""
    ctes, selects = [], []
    for qid, q in _EVAL_QS:
        terms = q.split()
        terms_sql = ", ".join(f"'{t}'" for t in terms)
        relexpr = (
            "LEAST(7, len(list_filter(toks, "
            f"t -> t IN ({terms_sql}))))"
        )
        ctes.append(f"""
    post_{qid} AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM flat
      WHERE term IN ({terms_sql}) GROUP BY doc_id, term),
    dfreq_{qid} AS (SELECT term, COUNT(*) AS df FROM post_{qid} GROUP BY term),
    scored_{qid} AS (
      SELECT p.doc_id,
             SUM( ln(1 + (nd - df + 0.5) / (df + 0.5))
                  * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
             ) AS s
      FROM post_{qid} p JOIN dfreq_{qid} USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats GROUP BY p.doc_id),
    ranked_{qid} AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY ROUND(s, 4) DESC, doc_id) AS rnk
      FROM scored_{qid} QUALIFY rnk <= 10),
    rel_{qid} AS (SELECT doc_id, {relexpr} AS rel FROM tok),
    dcg_{qid} AS (
      SELECT SUM((POW(2.0, rel) - 1) / (ln(rnk + 1.0) / ln(2.0))) AS dcg
      FROM ranked_{qid} JOIN rel_{qid} USING (doc_id)),
    ideal_{qid} AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rn
      FROM rel_{qid} WHERE rel > 0 QUALIFY rn <= 10),
    idcg_{qid} AS (
      SELECT SUM((POW(2.0, rel) - 1) / (ln(rn + 1.0) / ln(2.0))) AS idcg
      FROM ideal_{qid})""")
        selects.append(
            f"SELECT {qid} AS query_id, '{q}' AS query,"
            f" ROUND(dcg / idcg, 4) AS ndcg10"
            f" FROM dcg_{qid} CROSS JOIN idcg_{qid}"
        )
    body = ",".join(ctes)
    union = "\n    UNION ALL ".join(selects)
    return f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                         t -> t <> '' AND t NOT IN ({_STOPS_SQL})) AS toks
      FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tok),
    stats AS (SELECT AVG(len(toks)) AS avgdl, COUNT(*) AS nd FROM tok),
    flat AS (SELECT doc_id, unnest(toks) AS term FROM tok),{body}
    SELECT * FROM ({union}) ORDER BY query_id
    """


@query("search_eval_ndcg", oracle=_ndcg_oracle())
def search_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-quality evaluation: NDCG@10 of the BM25 ranker against
    graded pseudo-relevance labels (capped query-term occurrence
    count, computed from the corpus independently of the ranker) for a panel
    of eval queries — the offline relevance-eval loop every search
    deployment runs next to the index itself (the reference leaves
    ranking quality to ES and never measures it; this closes that
    gap). The ranking reuses the SERVED index (steady-state read), so
    the eval measures exactly what production serves.

    Scale shape: per query, top-10 is TakeOrderedAndProject (global
    sort-limit, no full-sort shuffle), the DCG join broadcasts the
    10-row prefix against the relevance frame, and the ideal prefix
    is the same sort-limit on the labels. ALL panel queries' labels
    come from ONE persisted tokenization pass (doc_id + one small int
    per query — O(docs) rows); the stopword filter the oracle's tok
    CTE applies is skipped because occurrence counts of non-stopword
    eval terms are unaffected by it. The panel unions fixed-size
    rows.

    The whole panel is SCORED IN ONE PASS: postings are scanned once
    with every panel term pushed down, docfreq/doclen attach once, a
    broadcast (term, qid, mult) panel map fans each matched posting
    to its queries, and per-(query, doc) scores come from one
    aggregation; the DCG probe likewise joins the labels frame once
    against the unioned 30-row ranked prefix. The per-query
    bm25_scores form this replaces scanned postings and attached the
    O(docs) doclen table once PER PANEL QUERY — three corpus-sized
    passes fused to one (the panel only grows the fused pass by the
    extra terms' postings). Each posting is weighted by bm25_scores's
    own `bm25_weight` (boost 1.0 multiplies exactly, per-term query
    multiplicity via the panel map)."""
    import math

    from pyspark.sql import Window

    from metastore_spark.search.scoring import bm25_weight

    idx = _index_for(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    from metastore_spark.search.analysis import _TOKEN_SPLIT, analyze

    toks_col = F.split(F.lower(F.col("text")), _TOKEN_SPLIT)
    rel_cols = []
    for qid, q in _EVAL_QS:
        rel_col = None
        for t in q.split():
            # occurrences of t = length drop after removing t —
            # codegen'd builtins, one array scan per term
            c = F.size(toks_col) - F.size(F.array_remove(toks_col, t))
            rel_col = c if rel_col is None else rel_col + c
        rel_cols.append(F.least(F.lit(7), rel_col).alias(f"rel_{qid}"))
    relall = d.select("doc_id", *rel_cols)
    relall.persist()

    # one fused scoring pass over the union of every panel query's
    # analyzed terms (bm25_scores semantics: per-query repeated terms
    # multiply their contribution via mult)
    panel_rows = []
    for qid, q in _EVAL_QS:
        terms = analyze(q, stem=False)
        for t in sorted(set(terms)):
            panel_rows.append((t, qid, float(terms.count(t))))
    panel = spark.createDataFrame(
        panel_rows, "term string, qid int, mult double"
    )
    all_terms = sorted({t for t, _, _ in panel_rows})
    matched = (
        idx.postings.filter(
            F.col("term").isin(all_terms) & (F.col("field") == "text")
        )
        .join(F.broadcast(idx.docfreq), ["term", "field"])
        .join(idx.doclen, ["doc_id", "field"])
        .join(F.broadcast(panel), "term")
    )
    weight = bm25_weight(idx.num_docs, F.lit(float(idx.avgdl["text"])))
    scored = (
        matched.select(
            "qid", "doc_id", (weight * F.col("mult")).alias("contrib")
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    scored.persist()

    ln2 = math.log(2.0)
    ranked_all = None
    for qid, _q in _EVAL_QS:
        top = (
            scored.filter(F.col("qid") == qid)
            .select("doc_id", F.round("score", 4).alias("s"))
            .orderBy(F.desc("s"), F.asc("doc_id"))
            .limit(10)
        )
        w = Window.orderBy(F.desc("s"), F.asc("doc_id"))
        ranked = top.withColumn("rnk", F.row_number().over(w)).select(
            F.lit(qid).alias("qid"), "doc_id", "rnk"
        )
        ranked_all = (
            ranked if ranked_all is None else ranked_all.unionAll(ranked)
        )

    # ONE O(docs) probe of the labels frame for all three DCGs; the
    # conditional sums keep the old per-leg agg's exactly-one-row
    # (null when nothing matched) semantics
    joined = relall.join(F.broadcast(ranked_all), "doc_id")
    log_rnk = F.log(F.col("rnk") + 1.0) / F.lit(ln2)
    dcg_row = joined.agg(
        *[
            F.sum(
                F.when(
                    F.col("qid") == qid,
                    (F.pow(F.lit(2.0), F.col(f"rel_{qid}")) - 1) / log_rnk,
                )
            ).alias(f"dcg_{qid}")
            for qid, _q in _EVAL_QS
        ]
    )

    base = dcg_row
    for qid, _q in _EVAL_QS:
        rel = relall.select("doc_id", F.col(f"rel_{qid}").alias("rel"))
        wi = Window.orderBy(F.desc("rel"), F.asc("doc_id"))
        ideal = (
            rel.filter(F.col("rel") > 0)
            .orderBy(F.desc("rel"), F.asc("doc_id"))
            .limit(10)
            .withColumn("rn", F.row_number().over(wi))
        )
        igain = (F.pow(F.lit(2.0), F.col("rel")) - 1) / (
            F.log(F.col("rn") + 1.0) / F.lit(ln2)
        )
        idcg = ideal.agg(F.sum(igain).alias(f"idcg_{qid}"))
        base = base.crossJoin(F.broadcast(idcg))
    out_structs = [
        F.struct(
            F.lit(qid).alias("query_id"),
            F.lit(q).alias("query"),
            F.round(F.col(f"dcg_{qid}") / F.col(f"idcg_{qid}"), 4).alias(
                "ndcg10"
            ),
        )
        for qid, q in _EVAL_QS
    ]
    return (
        base.select(F.explode(F.array(*out_structs)).alias("r"))
        .select("r.*")
        .orderBy("query_id")
    )


# --- hybrid retrieval --------------------------------------------------------


def _hybrid_oracle() -> str:
    """BM25 top-20 (the search_bm25_docs pipeline verbatim) fused with
    cosine top-20 by reciprocal-rank fusion, k=60."""
    return f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                         t -> t <> '' AND t NOT IN ({_STOPS_SQL})) AS toks
      FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tok),
    stats AS (SELECT AVG(len(toks)) AS avgdl, COUNT(*) AS nd FROM tok),
    flat AS (SELECT doc_id, unnest(toks) AS term FROM tok),
    post AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM flat WHERE term IN ({_TERMS_SQL})
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term),
    scored AS (
      SELECT p.doc_id,
             SUM( ln(1 + (nd - df + 0.5) / (df + 0.5))
                  * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
             ) AS s
      FROM post p
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY p.doc_id
    ),
    lex AS (
      SELECT doc_id, lex_rank FROM (
        SELECT doc_id,
               row_number() OVER (
                 ORDER BY ROUND(s, 4) DESC, doc_id
               ) AS lex_rank
        FROM scored
      ) WHERE lex_rank <= 20
    ),
    q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    vec AS (
      SELECT doc_id, vec_rank FROM (
        SELECT e.vec_id AS doc_id,
               row_number() OVER (
                 ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qv, qv))), 4) DESC, e.vec_id
               ) AS vec_rank
        FROM embeddings e CROSS JOIN q
      ) WHERE vec_rank <= 20
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             l.lex_rank, v.vec_rank,
             COALESCE(CAST(1 AS DOUBLE) / (60 + l.lex_rank), CAST(0 AS DOUBLE))
               + COALESCE(CAST(1 AS DOUBLE) / (60 + v.vec_rank), CAST(0 AS DOUBLE))
               AS rrf
      FROM lex l FULL JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, lex_rank, vec_rank, ROUND(rrf, 6) AS rrf_score
    FROM fused
    ORDER BY ROUND(rrf, 6) DESC, doc_id
    LIMIT 10
    """


@query("search_hybrid_rrf", oracle=_hybrid_oracle())
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval: BM25 lexical top-20 fused with embedding-cosine
    top-20 by reciprocal-rank fusion (RRF, k=60) — the standard
    two-tower retrieval shape (sparse + dense union, rank-based fusion,
    no score calibration needed) that modern search deployments run in
    front of a reranker. The reference engine delegates retrieval to a
    single lexical backend; this closes the dense half. doc_id ≡
    vec_id: the embeddings table IS the documents' embedding column
    (same synthetic key space), the layout a joint corpus would store.

    Both engines rank each leg on its ROUNDED score with doc_id
    tie-break, fuse with 1/(60+rank) per leg (missing leg contributes
    exactly 0), and take top-10 by rounded fused score — so the oracle
    value-hash-checks the fusion arithmetic and both leg rankings.

    Scale shape: the lexical leg reads the SERVED inverted index
    (bucketed postings, corpus-global df) and ends in a
    TakeOrderedAndProject top-20; the dense leg is one corpus scan
    with the query vector folded in as literals, also sort-limited
    (at scale the IVF served index replaces it — `ann_ivf_topk`).
    Fusion then joins two 20-row frames: parameter-sized work. Window
    ranking happens on the LIMITed prefixes, never the corpus."""
    from pyspark.sql import Window

    from metastore_spark import similarity as sim
    from metastore_spark.queries_similarity import _query_vec

    idx = _index_for(spark, sf_dir)
    scores = bm25_scores(idx, _Q, {"text": 1.0}, stem=False)
    lex20 = (
        scores.select("doc_id", F.round("score", 4).alias("s"))
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(20)
    )
    lex = lex20.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("s"), F.asc("doc_id")))
        .alias("lex_rank"),
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = _query_vec(spark, sf_dir, 0)
    vec20 = sim.cosine_topk(emb, qvec, k=20)
    vec = vec20.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos_sim"), F.asc("vec_id")))
        .alias("vec_rank"),
    )

    leg = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(60) + F.col(r)), F.lit(0.0)
    )
    rrf = leg("lex_rank") + leg("vec_rank")
    return (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.round(rrf, 6).alias("rrf_score"),
        )
        .orderBy(F.desc(F.round(rrf, 6)), F.asc("doc_id"))
        .limit(10)
    )


def _bm25_docs_oracle() -> str:
    from metastore_spark.queries import REGISTRY

    return REGISTRY["search_bm25_docs"].oracle


@query("search_stream_index_refresh", oracle=_bm25_docs_oracle())
def search_stream_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance end-to-end (VERDICT r5 task 6):
    the segmented refresh path must make post-refresh BM25 scores
    equal a cold full rebuild — same oracle as `search_bm25_docs`, so
    the hash pins the merged corpus-global statistics, not just row
    shapes.

    Lifecycle exercised: 80% of the documents corpus becomes the base
    segment; the remaining 20% lands as parquet files and drains
    through an availableNow stream, one micro-batch per file, each
    batch becoming a self-contained segment via `refresh_segment`
    (analysis cost O(batch) — the corpus is never re-analyzed);
    `compact_segments` then folds the tail into one segment (postings
    rewrite, no re-analysis); the probe loads THROUGH the manifest and
    scores the standard query. df sums exactly across disjoint
    segments, num_docs sums, avgdl recombines from per-segment length
    partials — so the refreshed index is the rebuilt index.

    This is the ingest story for the reference's append-only events
    kind (/root/reference/metastore/models.py:82-85): at 100 TB a
    refresh touches only the drained batch plus vocabulary-sized
    merges, and the compaction keeps the file count bounded."""
    import tempfile

    from metastore_spark.search.refresh import (
        compact_segments,
        load_segmented,
        refresh_segment,
    )

    src = tempfile.mkdtemp(prefix="sidx_src_")
    store = tempfile.mkdtemp(prefix="sidx_store_")
    try:
        docs = _t(spark, sf_dir, "documents")
        base = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) != 4)
        tail = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 4)
        refresh_segment(
            spark, base, store, "doc_id", ["text"], stem=False,
            segment_name="base",
        )
        tail.repartition(2).write.mode("overwrite").parquet(src)

        schema = spark.read.parquet(src).schema
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                lambda b, bid: refresh_segment(
                    spark, b, store, "doc_id", ["text"], stem=False,
                    segment_name=str(bid),
                )
            )
            .trigger(availableNow=True)
            .option(
                "checkpointLocation", os.path.join(store, "_checkpoint")
            )
            .start()
        )
        q.awaitTermination()

        compact_segments(spark, store)
        idx = load_segmented(spark, store)
        scores = bm25_scores(idx, _Q, {"text": 1.0}, stem=False)
        out = (
            scores.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc(F.round(F.col("score"), 4)), F.asc("doc_id"))
            .limit(20)
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)


@query("search_snapshot_index_refresh", oracle=_bm25_docs_oracle())
def search_snapshot_index_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Index maintenance DRIVEN BY THE SNAPSHOT CHANGELOG (VERDICT r7
    task 6 — round 7's two systems composed): documents land as
    snapshot table COMMITS, and `refresh_from_snapshot` consumes
    `read_appends` windows checkpointed by snapshot version — each
    refresh analyzes exactly the window's appended rows (O(delta
    files) by construction), lands them as one segment, and advances
    the manifest's version checkpoint. The oracle is the cold
    full-rebuild BM25 ranking (`search_bm25_docs`), so the hash pins
    that incremental maintenance over the commit log equals a fresh
    index of the head corpus — merged df/num_docs/avgdl statistics
    included.

    Lifecycle exercised: three append commits, a refresh after each
    (three delta segments); a COMPACTION commit followed by a refresh
    that must contribute NOTHING (op-aware consumption — the
    checkpoint advances, no segment minted, doc count unchanged); and
    a final no-new-commits refresh that is a pure no-op. At 100 TB
    this is the production index loop: ingest commits micro-batches,
    the indexer tails the table's own commit history — no side
    channel, no second checkpoint store, replay-safe because the
    segment name IS the version window."""
    import tempfile

    from metastore_spark.search.refresh import (
        load_segmented,
        refresh_from_snapshot,
    )
    from metastore_spark.sources import snapshots as snap

    tbl = os.path.join(tempfile.mkdtemp(prefix="sidx_snap_"), "t")
    store = tempfile.mkdtemp(prefix="sidx_seg_")
    try:
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        for part in range(3):
            snap.commit_append(
                spark,
                tbl,
                docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == part),
            )
            v = refresh_from_snapshot(
                spark, tbl, store, "doc_id", ["text"], stem=False
            )
            assert v == part + 1
        idx = load_segmented(spark, store)
        n_after_appends = idx.num_docs

        # a compaction commit carries no new rows: the refresh must
        # advance the checkpoint and mint nothing
        snap.compact(spark, tbl, target_files=1)
        v = refresh_from_snapshot(
            spark, tbl, store, "doc_id", ["text"], stem=False
        )
        assert v == 4
        # and with no new commits at all, a pure no-op
        assert refresh_from_snapshot(
            spark, tbl, store, "doc_id", ["text"], stem=False
        ) == 4
        idx = load_segmented(spark, store)
        assert idx.num_docs == n_after_appends

        scores = bm25_scores(idx, _Q, {"text": 1.0}, stem=False)
        out = (
            scores.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc(F.round(F.col("score"), 4)), F.asc("doc_id"))
            .limit(20)
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(os.path.dirname(tbl), ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)
