"""ClickHouse Map-combinator analog (sumMap): fold semantics, key
sorting, NULL handling, grouping."""

from __future__ import annotations

import pytest

from adguard2clickhouse_spark.operators.chagg import sum_map


def _df(spark):
    rows = [
        ("a", ["x", "y"], [1, 2]),
        ("a", ["y", "z"], [10, 20]),
        ("b", ["z"], [5]),
        ("b", [], []),                      # empty arrays contribute nothing
        ("b", ["x", None], [7, 99]),        # NULL key dropped
    ]
    return spark.createDataFrame(
        rows, "g STRING, keys ARRAY<STRING>, vals ARRAY<LONG>"
    )


def test_sum_map_grouped(spark):
    out = {
        r.g: (list(r.keys), list(r.vals))
        for r in sum_map(_df(spark), by=["g"]).collect()
    }
    # keys sorted, element-wise sums, NULL key gone
    assert out == {
        "a": (["x", "y", "z"], [1, 12, 20]),
        "b": (["x", "z"], [7, 5]),
    }, out


def test_sum_map_rejects_unknown_agg(spark):
    from adguard2clickhouse_spark.operators.chagg import _map_agg

    with pytest.raises(ValueError):
        _map_agg(_df(spark), "keys", "vals", ["g"], "avg")


def test_sum_map_drops_null_values_before_fold(spark):
    """A key whose values are all NULL is OMITTED (skip-NULL fold),
    and a group with no valid (key, value) pair at all vanishes."""
    rows = [
        ("a", ["x", "y"], [None, 2]),   # x all-NULL -> omitted
        ("a", ["y"], [3]),
        ("b", [], []),                  # no valid pair anywhere -> no row
        ("b", ["z"], [None]),
    ]
    df = spark.createDataFrame(
        rows, "g STRING, keys ARRAY<STRING>, vals ARRAY<LONG>"
    )
    out = {
        r.g: (list(r.keys), list(r.vals))
        for r in sum_map(df, by=["g"]).collect()
    }
    assert out == {"a": (["y"], [5])}, out
