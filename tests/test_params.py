"""Wire-contract tests: JSON-typed params, clamps, control-param
popping (reference metastore/models.py:82-142).
"""

import pytest

from metastore_spark.params import ParamError, parse_params


def test_json_typing():
    spec = parse_params({"a": '"str"', "b": "7", "c": "true"})
    assert spec.filters == {"a": ["str"], "b": [7], "c": [True]}


def test_unquoted_string_raises():
    with pytest.raises(ParamError):
        parse_params({"a": "str"})


def test_size_default_and_clamp():
    assert parse_params({}).size == 50
    assert parse_params({"size": "30"}).size == 30
    assert parse_params({"size": "0"}).size == 0  # count-only request
    assert parse_params({"size": "500"}).size == 100


def test_from_default():
    assert parse_params({}).offset == 0
    assert parse_params({"from": "20"}).offset == 20


def test_sort_direction():
    assert parse_params({}).sort_desc is True
    assert parse_params({"sort": '"asc"'}).sort_desc is False
    assert parse_params({"sort": "desc"}).sort_desc is True


def test_invalid_sort_raises():
    # the reference forwards bad orders to ES → error envelope
    with pytest.raises(ParamError):
        parse_params({"sort": '"bogus"'})


def test_control_params_not_filters():
    spec = parse_params(
        {"q": '"x"', "size": "10", "from": "1", "sort": "asc", "jwt": "t",
         "real": '"v"'}
    )
    assert set(spec.filters) == {"real"}
    assert spec.q == "x"


def test_unquoted_q_raises():
    # reference JSON-decodes q too (metastore/models.py:92)
    with pytest.raises(ParamError):
        parse_params({"q": "unquoted"})


def test_multivalue_param():
    spec = parse_params({"k": ['"a"', '"b"']})
    assert spec.filters["k"] == ["a", "b"]


def test_object_and_array_values_rejected():
    with pytest.raises(ParamError):
        parse_params({"k": '{"x": 1}'})
    with pytest.raises(ParamError):
        parse_params({"k": "[1, 2]"})


def test_negative_size_and_from_raise():
    # ES rejects both; without this check they reach Spark's limit and
    # offset operators, whose errors are engine text, not a param error
    with pytest.raises(ParamError):
        parse_params({"size": "-1"})
    with pytest.raises(ParamError):
        parse_params({"from": "-5"})
