"""Connected-components clustering tests: transitivity, singletons,
chain convergence."""

import pytest
from pyspark.sql import functions as F

from metastore_spark.dedup.cluster import connected_components


@pytest.fixture(scope="module")
def graph(spark):
    ids = spark.createDataFrame([(i,) for i in range(10)], "doc_id bigint")
    # components: {0,1,2} via chain 0-1,1-2; {3,4}; chain {5,6,7,8};
    # 9 isolated
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (5, 6), (6, 7), (7, 8)],
        "id_a bigint, id_b bigint",
    )
    return ids, pairs


def test_transitive_closure(graph):
    ids, pairs = graph
    cc = {r["doc_id"]: r["cluster_id"] for r in connected_components(ids, pairs).collect()}
    assert cc[0] == cc[1] == cc[2] == 0
    assert cc[3] == cc[4] == 3
    assert cc[5] == cc[6] == cc[7] == cc[8] == 5
    assert cc[9] == 9  # singleton


def test_long_chain_converges(spark):
    n = 30  # path graph: worst-case diameter for label propagation
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    )
    cc = connected_components(ids, pairs, max_iter=50)
    assert cc.filter(F.col("cluster_id") == 0).count() == n
