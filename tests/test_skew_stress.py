"""Adversarial skew fixture: one user holds ~10% of all events (the
shape a viral account / bot / null-key gives a 100 TB events table).
Every skew-relevant operator must stay CORRECT on it, and AQE must
actually split the skewed join partition when thresholds bind.
"""

import pytest

from pyspark.sql import functions as F

from metastore_spark.operators.sessions import sessionize
from metastore_spark.operators.skew import salted_join

HOT_USER = 7
N_EVENTS = 50_000
N_USERS = 500


@pytest.fixture(scope="module")
def skewed_events(spark):
    """~10% of rows on HOT_USER, remainder uniform over N_USERS."""
    return (
        spark.range(N_EVENTS)
        .select(
            F.col("id").alias("event_id"),
            F.when(F.col("id") % 10 == 0, F.lit(HOT_USER))
            .otherwise(F.col("id") % N_USERS)
            .alias("user_id"),
            # per-user event times: strictly increasing, hot user gets
            # bursts (gap > threshold every 50 events)
            (
                F.col("id") * 1000
                + F.when(F.col("id") % 500 == 0, 10**12).otherwise(0)
            ).alias("ts_num"),
            (F.col("id") % 97).cast("double").alias("value"),
        )
        .persist()
    )


def test_fixture_is_actually_skewed(skewed_events):
    counts = {
        r["user_id"]: r["n"]
        for r in skewed_events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts[HOT_USER] >= 0.09 * N_EVENTS  # ~10% mass hot key
    rest = max(v for k, v in counts.items() if k != HOT_USER)
    assert counts[HOT_USER] > 10 * rest


def test_salted_join_equals_plain_join_on_skew(skewed_events, spark):
    users = spark.range(N_USERS).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("u"), F.col("id")).alias("name"),
    )
    plain = (
        skewed_events.join(users, "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    salted = (
        salted_join(skewed_events, users, "user_id", num_salts=8)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    a = {r["user_id"]: (r["n"], r["v"]) for r in plain.collect()}
    b = {r["user_id"]: (r["n"], r["v"]) for r in salted.collect()}
    assert a == b


def test_heavy_hitters_find_hot_user_on_skew(skewed_events, spark, tmp_path):
    """events_heavy_hitters (Misra-Gries candidates → exact verify) on
    the adversarial fixture: the hot user MUST surface with its exact
    count."""
    import __spark_entry__  # noqa: F401
    from metastore_spark.queries import REGISTRY
    from metastore_spark.ts import us_to_ts

    sf_dir = str(tmp_path / "skewfix")
    (
        skewed_events.withColumn(
            "_us", (F.col("ts_num") / 1000).cast("bigint")
        )
        .select(
            "event_id",
            us_to_ts("_us").alias("ts"),
            "user_id",
            F.lit("click").alias("event_type"),
            "value",
            F.lit('{"k": 1}').alias("props"),
        )
        .write.mode("overwrite")
        .parquet(sf_dir + "/events.parquet")
    )
    out = {
        r["user_id"]: r["cnt"]
        for r in REGISTRY["events_heavy_hitters"].fn(spark, sf_dir).collect()
    }
    exact_hot = skewed_events.filter(
        F.col("user_id") == HOT_USER
    ).count()
    assert out.get(HOT_USER) == exact_hot  # all fixture rows are 'click'


def test_sessionize_correct_for_hot_user(skewed_events):
    """Window-based sessionization on the hot key: session boundaries
    must match a driver-side reference computed on the hot user's
    sorted timestamps."""
    gap = 10**9  # fixture bursts jump by 1e12
    got = (
        sessionize(skewed_events, "user_id", "ts_num", gap=gap)
        .filter(F.col("user_id") == HOT_USER)
        .select("ts_num", "session_seq")
        .collect()
    )
    ts_sorted = sorted(r["ts_num"] for r in got)
    expected_seq = {}
    seq = 1
    for i, t in enumerate(ts_sorted):
        if i > 0 and t - ts_sorted[i - 1] > gap:
            seq += 1
        expected_seq[t] = seq
    for r in got:
        assert r["session_seq"] == expected_seq[r["ts_num"]], r


def test_aqe_splits_skewed_join_partition(spark, skewed_events):
    """With thresholds lowered to fixture scale, AQE must mark the
    skewed sort-merge-join partition split (skew=true in the final
    adaptive plan) — the runtime half of the skew story (salting is
    the planning half)."""
    s = spark.newSession()  # conf isolation (test_registry_conf pattern)
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB"
    )
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
    )
    big = s.range(200_000).select(
        F.when(F.col("id") % 5 != 0, F.lit(HOT_USER))
        .otherwise(F.col("id") % N_USERS)
        .alias("user_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    other = s.range(N_USERS).select(
        F.col("id").alias("user_id"),
        F.col("id").alias("o_id"),
    )
    # NOTE: an agg keyed on user_id right after the join would make AQE
    # SKIP the split (the downstream stage reuses the join's hash
    # partitioning; splitting would force an extra shuffle). A global
    # count leaves the join output partitioning unconstrained — the
    # natural shape where OptimizeSkewedJoin fires.
    joined = big.join(other, "user_id").select("payload", "o_id")
    # collect() (not count()) so THIS DataFrame's own queryExecution is
    # the one AQE finalizes — count() builds a different plan object
    assert len(joined.collect()) == 200_000  # 1:1 dim join
    final_plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in final_plan, final_plan[:2000]
