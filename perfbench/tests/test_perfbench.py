"""Tests of the benchmark's own logic (no Spark needed):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
from checks import check  # noqa: E402
from oracle import Expected  # noqa: E402
from schedule import (  # noqa: E402
    FILTER_STRATA, RELEVANCE_STRATA, Request, class_counts, filter_schedule,
    ingest_schedule, relevance_schedule,
)

POOLS = {
    "hi": ["spark", "table", "data", "key"],
    "mid": ["merge", "batch", "window", "column"],
    "lo": ["babana", "kelido", "mutasi", "rofeka"],
}


def _cost(req: Request) -> tuple:
    """Everything that sets a request's cost: the seed may not move it."""
    return (
        req.stratum, req.kind, req.auth, req.size, req.sort, req.callback is not None,
        tuple(sorted((f, len(v)) for f, v in req.filters.items())), len(req.terms),
    )


def _from_bucket(req: Request, strata) -> bool:
    row = next(s for s in strata if s[0] == req.stratum)
    lo, hi = row[5]
    return lo <= req.offset <= hi


def test_schedules_are_deterministic_per_seed():
    assert filter_schedule(7, 3) == filter_schedule(7, 3)
    assert relevance_schedule(7, 3, POOLS) == relevance_schedule(7, 3, POOLS)
    a = ingest_schedule(7, 4, 10, 1000, 0, 50)
    assert a == ingest_schedule(7, 4, 10, 1000, 0, 50)
    assert filter_schedule(7, 3) != filter_schedule(8, 3)


def test_seeds_change_values_but_not_class_counts_or_strata():
    base_f = filter_schedule(1, 4)
    base_r = relevance_schedule(1, 4, POOLS)
    for seed in range(2, 12):
        f = filter_schedule(seed, 4)
        r = relevance_schedule(seed, 4, POOLS)
        assert class_counts(f) == class_counts(base_f)
        assert class_counts(r) == class_counts(base_r)
        assert [_cost(x) for x in f] == [_cost(x) for x in base_f]
        assert [_cost(x) for x in r] == [_cost(x) for x in base_r]
        assert all(_from_bucket(x, FILTER_STRATA) for x in f)
    assert set(class_counts(base_f).values()) == {4}
    assert len(class_counts(base_f)) == len(FILTER_STRATA)
    assert len(class_counts(base_r)) == len(RELEVANCE_STRATA)


def test_relevance_terms_come_one_per_bucket():
    for req in relevance_schedule(3, 2, POOLS):
        buckets = next(s[1] for s in RELEVANCE_STRATA if s[0] == req.stratum)
        assert len(req.terms) == len(set(req.terms)) == len(buckets)
        for term, bucket in zip(req.terms, buckets):
            assert term in POOLS[bucket]


def test_ingest_rows_continue_ids_and_keep_batch_size():
    plan = ingest_schedule(5, 3, 7, 1000, 10**12, 50)
    ids = [row[0] for c in plan for row in c.rows]
    ts = [row[1] for c in plan for row in c.rows]
    assert ids == list(range(1000, 1021))
    assert ts == sorted(ts) and ts[0] > 10**12
    other = ingest_schedule(6, 3, 7, 1000, 10**12, 50)
    assert [len(c.rows) for c in other] == [len(c.rows) for c in plan]
    assert [[r.stratum for r in c.reads] for c in other] == [[r.stratum for r in c.reads] for c in plan]


def test_tail_percentile_keeps_ten_samples_beyond():
    for n in range(1, 400):
        used = stats.effective_percentile(n, 90)
        assert 50 <= used <= 90
        if used > 50:
            assert n * (1 - used / 100) >= 10 - 1e-9
        if 50 < used < 90:
            # the highest such percentile: nudging it up leaves fewer than 10
            assert n * (1 - (used + 0.01) / 100) < 10


def test_tail_percentile_values():
    assert stats.effective_percentile(100, 90) == 90
    assert stats.effective_percentile(80, 90) == pytest.approx(87.5)
    assert stats.effective_percentile(12, 90) == 50
    xs = list(range(1, 101))
    assert stats.tail(xs, 90) == (pytest.approx(np.percentile(xs, 90)), 90)
    ys = list(range(1, 41))
    value, used = stats.tail(ys, 90)
    assert used == 75 and value == pytest.approx(np.percentile(ys, 75))


def _events_request(**kw) -> Request:
    args = dict(stratum="s", kind="events", user=None, auth="anon", filters={},
                size=2, offset=0, sort="desc", callback=None)
    args.update(kw)
    return Request(**args)


def _body(results, total, error=None, callback=None) -> bytes:
    env = {"results": results, "summary": {"total": total, "totalBytes": 3.0}}
    if error:
        env["error"] = error
    text = json.dumps(env)
    return (f"{callback}({text});" if callback else text).encode()


ROWS = [
    {"event_id": 4, "timestamp": "2024-01-02 00:00:00"},
    {"event_id": 2, "timestamp": "2024-01-01 00:00:00.500000"},
]


def test_correct_response_passes():
    exp = Expected(3, 3.0, np.array([4, 2]))
    assert check(_events_request(), "200 OK", _body(ROWS, 3), exp) == []
    cb = _events_request(callback="cb7")
    assert check(cb, "200 OK", _body(ROWS, 3, callback="cb7"), exp) == []


def test_error_envelope_counts_as_failed():
    exp = Expected(0, 0.0, np.array([], dtype=np.int64))
    body = json.dumps({"results": [], "summary": {"total": 0, "totalBytes": 0.0},
                       "error": "unknown field"}).encode()
    problems = check(_events_request(), "200 OK", body, exp)
    assert problems and "error" in problems[0]


def test_wrong_total_length_and_order_are_failures():
    exp = Expected(3, 3.0, np.array([4, 2]))
    assert any("total" in p for p in check(_events_request(), "200 OK", _body(ROWS, 5), exp))
    assert any("length" in p for p in check(_events_request(), "200 OK", _body(ROWS[:1], 3), exp))
    flipped = list(reversed(ROWS))
    assert any("order" in p for p in check(_events_request(), "200 OK", _body(flipped, 3), exp))
    assert check(_events_request(), "500 Internal Server Error", b"", exp)


def test_benchmark_json_lists_what_the_harness_reports():
    import harness

    here = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(here, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER
    # search_relevance runs by hand only (see NOTES.md, "Run budget")
    assert [w["name"] for w in spec["workloads"]] == [
        w for w in harness.WORKLOADS if w != "search_relevance"]


def test_registry_subset_covers_every_queries_module():
    import harness

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.path.insert(0, root)
    import __spark_entry__  # noqa: F401
    from metastore_spark.queries import REGISTRY

    modules = {REGISTRY[n].fn.__module__.rsplit(".", 1)[-1] for n in harness.REGISTRY_SUBSET}
    every = {q.fn.__module__.rsplit(".", 1)[-1] for q in REGISTRY.values()}
    assert modules == every == set(harness.REGISTRY_MODULES)
    assert all(REGISTRY[n].oracle for n in harness.REGISTRY_SUBSET)


def test_oracle_digest_ignores_row_and_column_order_only():
    import harness

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.path.insert(0, root)
    oracle = harness.result_digest(["b", "a"], [(1, "x"), (2.5, "y")])
    assert harness.compare_with_oracle(["a", "b"], [("y", 2.5), ("x", 1)], oracle) is None
    assert "rows" in harness.compare_with_oracle(["a", "b"], [("y", 2.5)], oracle)
    assert "values" in harness.compare_with_oracle(["a", "b"], [("y", 2.5), ("x", 2)], oracle)
