"""Filter-DSL semantics: normalisation, validation taxonomy, casting.

Mirrors the reference's tests/test_validation.py:156-245 and the
FIXTURES.md §6 rejection matrix.
"""

import pytest

from queens_spark.core.errors import InvalidValueTypeError
from queens_spark.core.filters import (
    normalize_filters,
    to_nested,
    validate_group,
    validate_filters,
)
from queens_spark.core.schema import DUKES_SCHEMA


def test_to_nested_flat_scalar():
    assert to_nested({"year": 2022}) == {"year": {"eq": 2022}}


def test_to_nested_passthrough():
    assert to_nested({"year": {"gte": 2020}}) == {"year": {"gte": 2020}}


def test_normalize_or_list():
    base, groups = normalize_filters(
        {"year": {"gt": 2020}, "$or": [{"fuel": "Gas"}, {"fuel": "Coal"}]}
    )
    assert base == {"year": {"gt": 2020}}
    assert groups == [{"fuel": {"eq": "Gas"}}, {"fuel": {"eq": "Coal"}}]


def test_normalize_or_dict_tolerated():
    _, groups = normalize_filters({"$or": {"fuel": {"like": "Coal%"}, "year": 2020}})
    assert groups == [{"fuel": {"like": "Coal%"}}, {"year": {"eq": 2020}}]


def test_normalize_empty():
    assert normalize_filters(None) == ({}, [])
    assert normalize_filters({}) == ({}, [])


def test_validate_casts_str_to_int():
    out = validate_group({"year": {"gte": "2020"}}, DUKES_SCHEMA)
    assert out == {"year": {"gte": 2020}}
    assert isinstance(out["year"]["gte"], int)


def test_validate_casts_to_float():
    out = validate_group({"value": {"lt": "1.5"}}, DUKES_SCHEMA)
    assert out == {"value": {"lt": 1.5}}


def test_validate_like_passthrough():
    out = validate_group({"fuel": {"like": "%gas%"}}, DUKES_SCHEMA)
    assert out == {"fuel": {"like": "%gas%"}}


def test_unknown_column_keyerror():
    with pytest.raises(KeyError):
        validate_group({"nope": {"eq": 1}}, DUKES_SCHEMA)


def test_not_queryable_nameerror():
    with pytest.raises(NameError):
        validate_group({"fuel": {"eq": "Gas"}}, DUKES_SCHEMA, queryable={"year"})


def test_bad_operator_valueerror():
    with pytest.raises(ValueError):
        validate_group({"year": {"betweenish": 1}}, DUKES_SCHEMA)


def test_text_ordering_op_valueerror():
    with pytest.raises(ValueError):
        validate_group({"fuel": {"lt": "Gas"}}, DUKES_SCHEMA)


def test_like_non_string_typeerror():
    with pytest.raises(TypeError):
        validate_group({"fuel": {"like": 123}}, DUKES_SCHEMA)


def test_uncastable_value_typeerror():
    with pytest.raises(TypeError):
        validate_group({"year": {"eq": "twenty"}}, DUKES_SCHEMA)


@pytest.mark.parametrize("val", [2020.5, -0.25, float("nan"), float("inf"),
                                 "nan", "inf", "2020.5"])
def test_fractional_or_non_finite_integer_rejected(val):
    # truncating 2020.5 to 2020 would serve the 2020 rows
    with pytest.raises(InvalidValueTypeError):
        validate_group({"year": {"eq": val}}, DUKES_SCHEMA)


def test_integral_float_casts_to_int():
    out = validate_group({"year": {"lt": 2020.0}}, DUKES_SCHEMA)
    assert out == {"year": {"lt": 2020}}
    assert isinstance(out["year"]["lt"], int)


@pytest.mark.parametrize("val", ["nan", "NaN", "inf", "-Infinity",
                                 float("nan"), float("-inf")])
def test_non_finite_real_rejected(val):
    with pytest.raises(InvalidValueTypeError):
        validate_group({"value": {"gt": val}}, DUKES_SCHEMA)


def test_validate_filters_both_parts():
    base, groups = validate_filters(
        {"year": {"gte": "2015"}},
        [{"fuel": {"eq": "Gas"}}],
        DUKES_SCHEMA,
    )
    assert base["year"]["gte"] == 2015
    assert groups[0]["fuel"]["eq"] == "Gas"


# ------------------------------------------------------------ filter_key

def test_filter_key_spellings_share_a_key():
    from queens_spark.core.filters import filter_key

    flat = filter_key({"year": 2020, "fuel": "Gas"}, DUKES_SCHEMA)
    assert flat == filter_key({"fuel": {"eq": "Gas"}, "year": {"eq": 2020}},
                              DUKES_SCHEMA)
    assert filter_key({"$or": {"fuel": "Gas"}}, DUKES_SCHEMA) == filter_key(
        {"$or": [{"fuel": {"eq": "Gas"}}]}, DUKES_SCHEMA)


def test_filter_key_keeps_value_types_apart():
    from datetime import datetime

    from queens_spark.core.filters import filter_key
    from queens_spark.core.schema import CollectionSchema, ColumnSpec

    # both cast to the INTEGER 2020, yet never share a memo entry
    assert filter_key({"year": 2020}, DUKES_SCHEMA) != filter_key(
        {"year": "2020"}, DUKES_SCHEMA)
    assert filter_key({"value": 1}, DUKES_SCHEMA) != filter_key(
        {"value": 1.0}, DUKES_SCHEMA)
    schema = CollectionSchema("ts", [ColumnSpec("at", "DATETIME")])
    ts = datetime(2024, 1, 2, 3, 4, 5)
    assert filter_key({"at": {"gte": ts}}, schema) != filter_key(
        {"at": {"gte": str(ts)}}, schema)


def test_filter_key_validates_every_call():
    from queens_spark.core.filters import filter_key

    for _ in range(2):
        with pytest.raises(KeyError):
            filter_key({"bogus": 1}, DUKES_SCHEMA)
        with pytest.raises(NameError):
            filter_key({"fuel": "Gas"}, DUKES_SCHEMA, queryable={"year"})
        with pytest.raises(TypeError):
            filter_key({"fuel": {"like": 5}}, DUKES_SCHEMA)
