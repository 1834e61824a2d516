"""Merge-patch unit table — mirrors /root/reference/patch_test.go:11-50
plus RFC-7386 delete-marker and unchanged-field-exclusion cases
(FIXTURES.md §1.4)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pqstream_spark.operators.merge_patch import merge_patch_map, merge_patch_json

MAP_SS = T.MapType(T.StringType(), T.StringType())
SCHEMA = T.StructType(
    [T.StructField("a", MAP_SS, True), T.StructField("b", MAP_SS, True)]
)


def run_map_patch(spark, a, b):
    df = spark.createDataFrame([(a, b)], SCHEMA)
    row = df.select(merge_patch_map(F.col("a"), F.col("b")).alias("p")).first()
    return row["p"]


@pytest.mark.parametrize(
    "a,b,expected",
    [
        # patch_test.go:22-23 — nils / empties → {}
        (None, None, {}),
        ({}, {}, {}),
        # patch_test.go:24-32 — one-field diff → that field, b's value
        ({}, {"foo": "bar"}, {"foo": "bar"}),
        # unchanged fields excluded (RFC 7386)
        ({"x": "1", "y": "2"}, {"x": "1", "y": "3"}, {"y": "3"}),
        # key present in a, absent in b → null delete-marker
        ({"x": "1", "gone": "old"}, {"x": "1"}, {"gone": None}),
        # reference call direction: generatePatch(payload, previous) —
        # patch carries OLD values of changed fields (SURVEY §1.4)
        (
            {"note": "here is an updated note"},
            {"note": "here is a sample note"},
            {"note": "here is a sample note"},
        ),
    ],
)
def test_merge_patch_map(spark, a, b, expected):
    assert run_map_patch(spark, a, b) == expected


@pytest.mark.parametrize(
    "a,b,expected",
    [
        (None, None, {}),
        ("{}", "{}", {}),
        ("{}", '{"foo":"bar"}', {"foo": "bar"}),
        # nested object recursion — beyond the flat-map fast path
        (
            '{"o":{"x":1,"y":2},"k":1}',
            '{"o":{"x":1,"y":3},"k":1}',
            {"o": {"y": 3}},
        ),
        ('{"gone":{"a":1}}', "{}", {"gone": None}),
        # type change: object replaced by scalar → whole value
        ('{"v":{"a":1}}', '{"v":2}', {"v": 2}),
        # bad JSON → None (event still emitted without changes,
        # server.go:237-240)
        ("not json", "{}", None),
    ],
)
def test_merge_patch_json(spark, a, b, expected):
    df = spark.createDataFrame([(a, b)], "a string, b string")
    row = df.select(merge_patch_json(F.col("a"), F.col("b")).alias("p")).first()
    got = json.loads(row["p"]) if row["p"] is not None else None
    assert got == expected


@pytest.mark.parametrize(
    "a,b,expected",
    [
        # every test_merge_patch_json case, same expected values
        (None, None, {}),
        ("{}", "{}", {}),
        ("{}", '{"foo":"bar"}', {"foo": "bar"}),
        (
            '{"o":{"x":1,"y":2},"k":1}',
            '{"o":{"x":1,"y":3},"k":1}',
            {"o": {"y": 3}},
        ),
        ('{"gone":{"a":1}}', "{}", {"gone": None}),
        ('{"v":{"a":1}}', '{"v":2}', {"v": 2}),
        ("not json", "{}", None),
        # every test_merge_patch_json_udf_poison case, compared as text
        ('{"a": 1}', '{"a": 2}', '{"a":2}'),
        ("{broken", '{"a": 2}', None),
        ('{"a": 1}', "ALSO BROKEN", None),
        (None, None, "{}"),
    ],
)
def test_merge_patch_text(a, b, expected):
    """The per-row function the wire renderer calls and the UDF maps —
    no Spark session needed."""
    from pqstream_spark.operators.merge_patch import merge_patch_text

    got = merge_patch_text(a, b)
    if isinstance(expected, str):
        assert got == expected
    else:
        assert (json.loads(got) if got is not None else None) == expected
