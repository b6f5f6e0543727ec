"""Port of the reference's controller behavior tests
(tests/test_controllers.py:295-609) against the Spark SearchEngine.

Pattern preserved: seed a small corpus → run one query → assert exact
counts / exact id sets / exact orderings. The harness invariant
len(results) <= summary.total (tests/test_controllers.py:96-99) is
checked in the helper.
"""

from __future__ import annotations

import pytest

from metastore_spark.api import dataset_events_engine
from tests import fixtures as fx


def run(engine, kind, userid=None, **params):
    out = engine.search(kind, userid, {k: v for k, v in params.items()})
    assert len(out["results"]) <= out["summary"]["total"]
    return out


def names(out):
    return {r["name"] for r in out["results"]}


@pytest.fixture()
def engine_factory(spark):
    def make(datasets=None, events=None):
        ds = datasets if datasets is not None else fx.empty_datasets(spark)
        ev = events if events is not None else fx.empty_events(spark)
        return dataset_events_engine(spark, ds, ev)

    return make


# -- basics (tests/test_controllers.py:295-310) -----------------------------


def test_empty_corpus(engine_factory):
    out = run(engine_factory(), "dataset")
    assert out["summary"]["total"] == 0
    assert out["summary"]["totalBytes"] == 0.0
    assert out["results"] == []


def test_all_published_counted(spark, engine_factory):
    out = run(engine_factory(fx.some_records(spark, 3)), "dataset")
    assert out["summary"]["total"] == 3
    assert out["summary"]["totalBytes"] == 30.0
    assert isinstance(out["summary"]["totalBytes"], float)


# -- typed filters (tests/test_controllers.py:312-358) ----------------------


def test_filter_string_quoted(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 10))
    out = run(e, "dataset", license='"str7"')
    assert out["summary"]["total"] == 1
    assert out["results"][0]["license"] == "str7"


def test_filter_numeric_title(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 10))
    out = run(e, "dataset", title="7")
    assert out["summary"]["total"] == 1


def test_filter_boolean(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 4))
    out = run(e, "dataset", name="true")
    assert out["summary"]["total"] == 4


def test_filter_or_within_param(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 10))
    out = run(e, "dataset", license=['"str7"', '"str8"'])
    assert out["summary"]["total"] == 2


def test_filter_and_across_params(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 10))
    out = run(e, "dataset", license='"str7"', title="7")
    assert out["summary"]["total"] == 1
    out = run(e, "dataset", license='"str7"', title="8")
    assert out["summary"]["total"] == 0


def test_filter_nested_path(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 5))
    out = run(e, "dataset", **{"datahub.name": '"innername"'})
    assert out["summary"]["total"] == 5
    out = run(e, "dataset", **{"datahub.name": '"wrong"'})
    assert out["summary"]["total"] == 0


# -- error envelope (tests/test_controllers.py:360-372) ---------------------


def test_unquoted_string_value_is_error(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 3))
    out = run(e, "dataset", license="str7")
    assert "error" in out
    assert out["summary"]["total"] == 0
    assert out["results"] == []


def test_unknown_field_is_error(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 3))
    out = run(e, "dataset", nosuchfield='"x"')
    assert "error" in out
    assert out["summary"]["total"] == 0


def test_unknown_kind_is_error(engine_factory):
    out = run(engine_factory(), "nope")
    assert "error" in out


# -- pagination (tests/test_controllers.py:374-393) -------------------------


def test_default_size_50(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 60))
    out = run(e, "dataset")
    assert out["summary"]["total"] == 60
    assert len(out["results"]) == 50


def test_size_clamped_to_100(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 105))
    out = run(e, "dataset", size="200")
    assert out["summary"]["total"] == 105
    assert len(out["results"]) == 100


def test_size_and_from(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 10))
    out = run(e, "dataset", size="3", **{"from": "8"})
    assert out["summary"]["total"] == 10
    assert len(out["results"]) == 2


# -- visibility (tests/test_controllers.py:416-464) -------------------------


def test_anonymous_sees_published_only(spark, engine_factory):
    e = engine_factory(fx.private_records(spark))
    out = run(e, "dataset")
    assert out["summary"]["total"] == 4
    assert all("published" in n for n in names(out))


def test_owner_sees_own_plus_published(spark, engine_factory):
    e = engine_factory(fx.private_records(spark))
    out = run(e, "dataset", userid="owner1")
    assert out["summary"]["total"] == 6
    got = names(out)
    assert "owner1-private-cat" in got
    assert "owner2-private-cat" not in got


def test_q_respects_visibility(spark, engine_factory):
    e = engine_factory(fx.private_records(spark, with_readme=True))
    out = run(e, "dataset", q='"cat"')
    assert out["summary"]["total"] == 2  # published cats only
    out = run(e, "dataset", userid="owner1", q='"cat"')
    assert out["summary"]["total"] == 3  # + owner1's private cat


# -- full-text search (tests/test_controllers.py:170-185,497-552) -----------


def test_q_matches_title_word(spark, engine_factory):
    e = engine_factory(fx.real_looking_records(spark, 10))
    out = run(e, "dataset", q='"alpha"')
    # word i=0 in title; word (i+1)%10 → i=9 in owner
    assert out["summary"]["total"] == 2
    out = run(e, "dataset", q='"nosuchword"')
    assert out["summary"]["total"] == 0


def test_q_does_not_search_not_readme(spark, engine_factory):
    e = engine_factory(fx.private_records(spark, with_readme=True))
    out = run(e, "dataset", q='"badword"')
    assert out["summary"]["total"] == 0


def test_core_boost_ranks_first(spark, engine_factory):
    e = engine_factory(fx.multiple_user_records(spark))
    out = run(e, "dataset", q='"readme"')
    assert out["summary"]["total"] == 4  # published only
    assert out["results"][0]["name"] == "core-dataset"


def test_stopwords(spark, engine_factory):
    e = engine_factory(fx.stopword_records(spark))
    out = run(e, "dataset", q='"the Mauna Loa"')
    assert out["summary"]["total"] == 2
    assert {r["title"] for r in out["results"]} == {
        "the Mauna Loa",
        "Mauna Loa",
    }


def test_stemming_relevance(spark, engine_factory):
    docs = [
        {
            "id": "a",
            "name": "a",
            "title": "list of countries",
            "datahub": fx._datahub(),
        },
        {
            "id": "b",
            "name": "b",
            "title": "unrelated",
            "datahub": fx._datahub(),
            "datapackage": {"readme": "country data here", "not_readme": None},
        },
        {
            "id": "c",
            "name": "c",
            "title": "something else",
            "datahub": fx._datahub(),
        },
    ]
    e = engine_factory(fx.make_datasets(spark, docs))
    out = run(e, "dataset", q='"countries"')
    assert out["summary"]["total"] == 2
    # title boost (5) outranks readme boost (2)
    assert [r["name"] for r in out["results"]] == ["a", "b"]


def test_q_and_filter_conjunction(spark, engine_factory):
    """tests/test_controllers.py:153-168: q hits multiple docs, an
    owner filter narrows to one."""
    docs = [
        {
            "id": str(i),
            "name": f"d{i}",
            "title": f"shared topic plus word{i}",
            "datahub": fx._datahub(owner=f"BlaBla{i}@test2.com"),
        }
        for i in range(3)
    ]
    e = engine_factory(fx.make_datasets(spark, docs))
    out = run(e, "dataset", q='"topic"')
    assert out["summary"]["total"] == 3
    out = run(e, "dataset", q='"topic"', **{"datahub.owner": '"BlaBla1@test2.com"'})
    assert out["summary"]["total"] == 1
    assert out["results"][0]["name"] == "d1"


def test_most_fields_score_summation(spark, engine_factory):
    """multi_match most_fields: a doc matching in BOTH title and
    readme outranks a doc matching in title alone (scores sum —
    metastore/models.py:95 'most_fields')."""
    docs = [
        {
            "id": "both",
            "name": "both",
            "title": "fishing boats",
            "datahub": fx._datahub(),
            "datapackage": {"readme": "all about fishing", "not_readme": None},
        },
        {
            "id": "title-only",
            "name": "title-only",
            "title": "fishing boats",
            "datahub": fx._datahub(),
            "datapackage": {"readme": "something else", "not_readme": None},
        },
    ]
    e = engine_factory(fx.make_datasets(spark, docs))
    out = run(e, "dataset", q='"fishing"')
    assert [r["name"] for r in out["results"]] == ["both", "title-only"]


# -- events kind (tests/test_controllers.py:556-609) ------------------------


def test_events_visibility(spark, engine_factory):
    e = engine_factory(events=fx.some_event_records(spark, 10))
    out = run(e, "events")
    assert out["summary"]["total"] == 5  # odd i → published
    out = run(e, "events", userid="datahubid")
    assert out["summary"]["total"] == 10


def test_events_term_filters(spark, engine_factory):
    e = engine_factory(events=fx.some_event_records(spark, 10))
    uid = "datahubid"
    assert run(e, "events", userid=uid, event_entity='"flow"')["summary"]["total"] == 6
    assert (
        run(e, "events", userid=uid, event_action='"finished"')["summary"]["total"]
        == 7
    )
    out = run(
        e, "events", userid=uid, event_entity='"flow"', event_action='"finished"'
    )
    assert out["summary"]["total"] == 4


def test_events_sort_desc_default_and_asc(spark, engine_factory):
    e = engine_factory(events=fx.some_event_records(spark, 10))
    out = run(e, "events", userid="datahubid")
    stamps = [r["timestamp"] for r in out["results"]]
    assert stamps == sorted(stamps, reverse=True)
    out = run(e, "events", userid="datahubid", sort='"asc"')
    stamps = [r["timestamp"] for r in out["results"]]
    assert stamps == sorted(stamps)


def test_events_exact_keyword_match(spark, engine_factory):
    e = engine_factory(
        events=fx.event_records_with_datasets(
            spark, ["co2-fossil-by-nation", "co2-fossil-global", "co2-ppm"]
        )
    )
    out = run(e, "events", dataset='"co2-ppm"')
    assert out["summary"]["total"] == 1
    assert out["results"][0]["dataset"] == "co2-ppm"


def test_events_q_is_ignored(spark, engine_factory):
    """events has q_fields: [] (metastore/models.py:33) — a q param
    text-matches nothing, so all visible events return."""
    e = engine_factory(events=fx.some_event_records(spark, 10))
    out = run(e, "events", q='"anything"')
    assert out["summary"]["total"] == 5  # visibility only


def test_dynamic_bool_field_filter(spark, engine_factory):
    """tests/test_controllers.py:182: filter on a dynamic boolean
    field (loaded=true) not in the core mapping."""
    docs = [
        {"id": "a", "name": "a", "loaded": True, "datahub": fx._datahub()},
        {"id": "b", "name": "b", "loaded": False, "datahub": fx._datahub()},
        {"id": "c", "name": "c", "loaded": None, "datahub": fx._datahub()},
    ]
    e = engine_factory(fx.make_datasets(spark, docs))
    out = run(e, "dataset", loaded="true")
    assert out["summary"]["total"] == 1
    assert out["results"][0]["name"] == "a"


def test_events_totalbytes_zero(spark, engine_factory):
    e = engine_factory(events=fx.some_event_records(spark, 4))
    out = run(e, "events", userid="datahubid")
    assert out["summary"]["totalBytes"] == 0.0


# -- count-only and past-the-end pages --------------------------------------


def test_size_zero_returns_summary_only(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 7))
    out = run(e, "dataset", size="0")
    assert out["results"] == []
    assert out["summary"] == {"total": 7, "totalBytes": 70.0}
    out = run(e, "events", size="0")
    assert "error" not in out
    assert out["summary"]["total"] == 0


def test_from_past_end_keeps_full_summary(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 7))
    out = run(e, "dataset", size="5", **{"from": "50"})
    assert out["results"] == []
    assert out["summary"] == {"total": 7, "totalBytes": 70.0}


def test_presorted_input_keeps_full_summary(spark, engine_factory):
    """A kind bound to a frame already sorted on the page order: the
    top-k then reads only the first rows of each partition, so the
    summary must not come from that scan."""
    from pyspark.sql import functions as F

    events = fx.some_event_records(spark, 12).orderBy(
        F.col("timestamp").asc(), F.col("_event_id").asc()
    )
    e = engine_factory(events=events)
    out = run(e, "events", userid="datahubid", size="1", sort='"asc"')
    assert out["summary"]["total"] == 12
    assert [r["_event_id"] for r in out["results"]] == ["e0000"]


# -- request cost and isolation ---------------------------------------------


def test_filter_search_runs_one_job_and_caches_nothing(spark, engine_factory):
    """A no-q page and its summary come from ONE Spark job, and no
    per-request copy of the filtered frame is cached."""
    sc = spark.sparkContext
    e = engine_factory(fx.some_records(spark, 20))
    persisted = set(sc._jsc.getPersistentRDDs().keySet())
    group = "test-one-job-per-search"
    sc.setJobGroup(group, "one search request")
    try:
        out = run(e, "dataset", size="5", license=['"str3"', '"str4"', '"str5"'])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out["summary"] == {"total": 3, "totalBytes": 30.0}
    assert len(out["results"]) == 3
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert set(sc._jsc.getPersistentRDDs().keySet()) == persisted


def test_concurrent_searches_match_sequential(spark, engine_factory):
    """Threaded WSGI workers share one engine: each request's summary
    must be its own, never another request's observation."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    e = engine_factory(
        fx.some_records(spark, 30), events=fx.some_event_records(spark, 12)
    )
    requests = [
        ("dataset", None, {"license": f'"str{i}"'}) for i in range(3)
    ] + [
        ("dataset", None, {"title": ["1", "2", "3", "4"], "size": "2"}),
        ("dataset", None, {"from": "25"}),
        ("events", "datahubid", {"event_entity": '"flow"'}),
        ("events", None, {"size": "3", "sort": '"asc"'}),
        ("events", "datahubid", {"size": "0"}),
    ]

    def one(req):
        kind, userid, params = req
        return run(e, kind, userid=userid, **params)

    sequential = [one(r) for r in requests]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=len(requests)) as pool:
            concurrent = list(pool.map(one, requests, timeout=600))
    finally:
        sys.setswitchinterval(switch)
    assert concurrent == sequential
    assert len({o["summary"]["total"] for o in sequential}) > 3
