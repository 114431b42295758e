"""Lattice + type-guess parity tests (SURVEY.md §2.1 traps 1-3) and
property tests for the widening join."""

from __future__ import annotations

from datetime import datetime

import pytest
from hypothesis import given, strategies as st

from mongo2mysql_spark.plans.infer import infer_table_schema
from mongo2mysql_spark.plans.lattice import (
    ObjectIdStr,
    UnknownTypeError,
    guess_db_type,
    varchar_bucket,
    widen,
)

# -------------------------------------------------------------- guess parity


@pytest.mark.parametrize(
    "value,expected",
    [
        (ObjectIdStr("5f2a" * 6), "varchar(24)"),
        (datetime(2020, 1, 1), "datetime"),
        (7, "int"),
        (None, "int"),  # trap 1: null guesses as int (Porter.php:363)
        (1.5, "double"),
        ("x" * 513, "text"),
        ("2020-01-02T03:04:05", "datetime"),  # ISO re-detection (Porter.php:372)
        ("2020-01-02T03:04:05.1234", "datetime"),
        ("2020-01-02 03:04:05", "varchar(50)"),  # space, not T → not ISO
        ("abc", "varchar(50)"),
        ("x" * 49, "varchar(50)"),
        ("x" * 50, "varchar(100)"),  # trap 3: strict < buckets
        ("x" * 99, "varchar(100)"),
        ("x" * 100, "varchar(255)"),
        ("x" * 254, "varchar(255)"),
        ("x" * 255, "varchar(512)"),  # 255 jumps to 512 (strict <)
        ("x" * 512, "varchar(512)"),
    ],
)
def test_guess_db_type(spark, value, expected):
    """The scalar guess (Porter.php:358-396) and the distributed schema
    pass agree on every quirk case: a one-value column infers as the
    value guesses."""
    assert guess_db_type(value) == expected
    if isinstance(value, ObjectIdStr):
        return  # Spark has no ObjectId type: the porter reads ids as strings
    spark_type = {int: "long", float: "double", datetime: "timestamp"}.get(type(value), "string")
    df = spark.createDataFrame([(value,)], f"v {spark_type}")
    assert infer_table_schema(df) == {"v": expected}


def test_guess_unknown_raises(spark):
    with pytest.raises(UnknownTypeError):
        guess_db_type(object())
    with pytest.raises(UnknownTypeError):
        guess_db_type(True)  # PHP is_int(bool) is false → throw
    with pytest.raises(UnknownTypeError):
        infer_table_schema(spark.createDataFrame([(True,)], "v boolean"))


# -------------------------------------------------------------- widen parity


@pytest.mark.parametrize(
    "t1,t2,expected",
    [
        ("int", "int", "int"),
        ("int", "double", "double"),
        ("double", "int", "double"),
        ("text", "varchar(50)", "text"),
        ("int", "text", "text"),
        ("varchar(50)", "varchar(255)", "varchar(255)"),
        ("varchar(512)", "varchar(100)", "varchar(512)"),
        ("datetime", "int", "varchar(255)"),  # cross-kind → varchar(255)
        ("datetime", "varchar(50)", "varchar(255)"),
        ("int", "varchar(50)", "varchar(255)"),  # lexical-sort arm quirk
        ("datetime", "double", "varchar(255)"),
        # trap 1 chain: null-first string column goes int → varchar(255)
        ("int", "varchar(100)", "varchar(255)"),
    ],
)
def test_widen(t1, t2, expected):
    assert widen(t1, t2) == expected


TYPES = st.sampled_from(
    ["int", "double", "datetime", "text",
     "varchar(24)", "varchar(50)", "varchar(100)", "varchar(255)", "varchar(512)"]
)


@given(TYPES, TYPES)
def test_widen_commutative(a, b):
    assert widen(a, b) == widen(b, a)


@given(TYPES)
def test_widen_idempotent(a):
    assert widen(a, a) == a


@given(TYPES, TYPES)
def test_widen_absorbs_both(a, b):
    """The join is an upper bound: widening the result with either input
    never narrows it back below the result."""
    j = widen(a, b)
    assert widen(j, j) == j


def test_widen_not_associative_documented():
    """The reference lattice is order-dependent for datetime/varchar
    mixes — the documented reason the engine defines a set-oriented
    closure instead of folding in row order (lattice.py docstring)."""
    a, b, c = "varchar(50)", "varchar(512)", "datetime"
    assert widen(widen(a, c), b) != widen(widen(a, b), c)


def test_varchar_bucket_bounds():
    assert [varchar_bucket(n) for n in (0, 49, 50, 99, 100, 254, 255, 512)] == [
        50, 50, 100, 100, 255, 255, 512, 512,
    ]
