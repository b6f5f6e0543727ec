"""Shared-session hygiene: registry queries must not leave session
confs mutated. The streaming interval join sizes its state-store
partitioning in an isolated ``spark.newSession()``; this pins that no
query path does `spark.conf.set` on the caller's session and leaks it.
"""

import pytest

import metastore_spark.queries_streaming  # noqa: F401 — registers queries
from metastore_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"

WATCHED = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
    "spark.sql.sources.parallelPartitionDiscovery.threshold",
)


@pytest.mark.parametrize(
    "name",
    ["events_stream_interval_join", "events_stream_hourly"],
)
def test_streaming_queries_leave_session_confs_untouched(spark, name):
    # snapshot AFTER one tune_runtime pass (the documented, idempotent
    # runtime baseline every registry query applies)
    from metastore_spark.session import tune_runtime

    tune_runtime(spark)
    before = {k: spark.conf.get(k, None) for k in WATCHED}
    REGISTRY[name].fn(spark, SF).collect()
    after = {k: spark.conf.get(k, None) for k in WATCHED}
    assert after == before
