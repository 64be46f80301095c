"""``functions.top_k``: the one top-k helper behind every ranking query,
checked on a hand-built frame for both its global and per-group forms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from imdbmapreduce_spark.functions import top_k

# (g, h, score, id): two score-3 ties in group (a, 1), one in (b, 1)
_ROWS = [
    ("a", 1, 3, 1),
    ("a", 1, 3, 0),
    ("a", 1, 1, 2),
    ("a", 2, 5, 3),
    ("b", 1, 2, 5),
    ("b", 1, 2, 4),
]


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(_ROWS, "g string, h int, score int, id int")


def _ranked(df, rank="rank"):
    return sorted((r["id"], r[rank]) for r in df.collect())


def _spark_plan(df):
    return df._jdf.queryExecution().sparkPlan().toString()


def test_top_k_global_breaks_ties_on_trailing_order(frame):
    got = top_k(frame, 3, F.desc("score"), "id")
    assert _ranked(got) == [(0, 2), (1, 3), (3, 1)]
    assert dict(got.dtypes)["rank"] == "bigint"
    assert "TakeOrderedAndProject" in _spark_plan(got)


def test_top_k_per_group_on_two_columns(frame):
    got = top_k(frame, 1, F.desc("score"), "id", by=["g", "h"], rank="rn")
    assert _ranked(got, "rn") == [(0, 1), (3, 1), (4, 1)]
    assert dict(got.dtypes)["rn"] == "bigint"
    assert "WindowGroupLimit" in _spark_plan(got)


def test_top_k_larger_than_input_keeps_every_row(frame):
    assert _ranked(top_k(frame, 100, "id")) == [(i, i + 1) for i in range(6)]
    per_group = top_k(frame, 100, F.desc("score"), "id", by="g")
    assert _ranked(per_group) == [(0, 2), (1, 3), (2, 4), (3, 1), (4, 1), (5, 2)]


@pytest.mark.parametrize("k", [0, -1])
def test_top_k_non_positive_k_returns_no_rows(frame, k):
    assert top_k(frame, k, "id").collect() == []
    assert top_k(frame, k, "id", by="g").collect() == []
