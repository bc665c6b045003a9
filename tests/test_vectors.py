"""Vector kernels (functions/vectors.py) against a pure-Python left fold
in double: same order of operations, so values must match exactly."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_pipeline2_spark.functions.vectors import (
    cosine_similarity,
    dot,
    l2_norm,
    query_vector_lit,
)

INF, NAN = float("inf"), float("nan")

ROWS = [
    (1, [1.0, 2.0, 3.0], [4.0, -5.0, 6.0]),
    (2, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),  # zero vector: cosine NULL
    (3, [-0.0, 1.0, 2.0], [3.0, -0.0, 1e-05]),
    (4, [5e-324, 1e-05, 1.0], [1e-05, 5e-324, 2.5e-7]),
    (5, [0.1, 0.2, 0.3], [1e16, -1e-300, 7.0]),
    (6, [NAN, 1.0, 0.0], [1.0, 1.0, 1.0]),
    (7, [INF, 1.0, 0.0], [-INF, 0.0, 1.0]),
    (8, None, [1.0, 2.0, 3.0]),
]


def _dot(a, b):
    if a is None or b is None:
        return None
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _norm(a):
    d = _dot(a, a)
    return None if d is None else math.sqrt(d)


def _gt0(v):
    # Spark orders NaN above every double, so NaN > 0 is true
    return math.isnan(v) or v > 0


def _cosine(a, b):
    na, nb = _norm(a), _norm(b)
    if na is None or nb is None or not (_gt0(na) and _gt0(nb)):
        return None
    return _dot(a, b) / (na * nb)


def _same(got, want):
    if got is None or want is None:
        return got is None and want is None
    if math.isnan(want):
        return math.isnan(got)
    return got == want and math.copysign(1, got) == math.copysign(1, want)


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(ROWS, "id int, a array<double>, b array<double>")


def test_kernels_match_python_fold(frame):
    rows = frame.select(
        "id", "a", "b",
        dot("a", "b").alias("dot"),
        l2_norm("a").alias("na"),
        cosine_similarity("a", "b").alias("cos"),
    ).orderBy("id").collect()
    assert len(rows) == len(ROWS)
    for r in rows:
        for name, got, want in (
            ("dot", r["dot"], _dot(r["a"], r["b"])),
            ("l2_norm", r["na"], _norm(r["a"])),
            ("cosine", r["cos"], _cosine(r["a"], r["b"])),
        ):
            assert _same(got, want), (r["id"], name, got, want)
    assert rows[1]["cos"] is None  # zero vector scores NULL


def test_query_literal_round_trips_exact_doubles(spark, frame):
    q = [-0.0, 0.0, 1e-05, 5e-324, -5e-324, 2.2250738585072014e-308,
         1.7976931348623157e308, 1 / 3, 1.2345678901234568e+17, -0.1]
    got = spark.range(1).select(F.expr(query_vector_lit(q)).alias("v")).head()["v"]
    assert all(_same(g, w) for g, w in zip(got, q)) and len(got) == len(q)

    qv = [3.0, -0.0, 1e-05]
    rows = frame.select(
        "id", "a", cosine_similarity("a", query_vector_lit(qv)).alias("cos")
    ).orderBy("id").collect()
    for r in rows:
        assert _same(r["cos"], _cosine(r["a"], qv)), (r["id"], r["cos"])


@pytest.mark.parametrize("bad", [NAN, INF, -INF])
def test_query_literal_refuses_non_finite(bad):
    with pytest.raises(ValueError, match="non-finite"):
        query_vector_lit([0.5, bad, 1.0])
