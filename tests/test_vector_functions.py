"""Vector math numerics vs numpy (SURVEY.md §5.2)."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectra_py_spark.functions.vector import (
    cosine_similarity,
    cosine_to_query,
    dot,
    l2_norm,
    normalized_cosine,
    vector_literal,
)

VECS = [
    ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    ([0.5, -0.5, 0.25], [-1.0, 2.0, 4.0]),
    ([1e-8, 1e8, -3.5], [2.0, -2.0, 2.0]),
]


@pytest.fixture(scope="module")
def df(spark):
    rows = [(i, a, b) for i, (a, b) in enumerate(VECS)]
    return spark.createDataFrame(rows, ["i", "a", "b"])


def test_dot_and_norm(df):
    out = (
        df.select(
            "i",
            dot(F.col("a"), F.col("b")).alias("d"),
            l2_norm(F.col("a")).alias("na"),
        )
        .orderBy("i")
        .collect()
    )
    for row, (a, b) in zip(out, VECS):
        assert row.d == pytest.approx(float(np.dot(a, b)), rel=1e-12)
        assert row.na == pytest.approx(float(np.linalg.norm(a)), rel=1e-12)


def test_cosine(df):
    out = (
        df.select("i", cosine_similarity(F.col("a"), F.col("b")).alias("c"))
        .orderBy("i")
        .collect()
    )
    for row, (a, b) in zip(out, VECS):
        expect = float(
            np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
        )
        assert row.c == pytest.approx(expect, rel=1e-12)


def test_cosine_to_query_with_stored_norm(spark):
    a = [3.0, 4.0]
    q = [1.0, 0.0]
    df = spark.createDataFrame([(a, 5.0)], ["vector", "norm"])
    got = df.select(
        cosine_to_query("vector", q, norm_col="norm").alias("s")
    ).collect()[0].s
    assert got == pytest.approx(3.0 / 5.0, rel=1e-12)


def test_zero_query_vector(spark):
    df = spark.createDataFrame([([1.0, 2.0],)], ["vector"])
    got = df.select(cosine_to_query("vector", [0.0, 0.0]).alias("s")).collect()[0].s
    assert got == 0.0


def _bits(x):
    """IEEE bit pattern, one canonical value for every NaN."""
    if x is None or math.isnan(x):
        return x if x is None else "nan"
    return struct.pack("<d", x)


def _composed_cosine(vector_col, query, norm_col=None):
    """The per-element Column composition ``cosine_to_query`` parses in
    one string: one ``F.lit`` per element, Python lambdas for the HOFs."""
    q = [float(x) for x in query]
    q_norm = sum(x * x for x in q) ** 0.5
    if q_norm == 0.0:
        return F.lit(0.0)
    d = dot(F.col(vector_col), F.array(*[F.lit(x) for x in q]))
    if norm_col is not None:
        return normalized_cosine(d, F.col(norm_col), F.lit(q_norm))
    return d / (l2_norm(F.col(vector_col)) * F.lit(q_norm))


@pytest.mark.parametrize("norm_col", [None, "norm"])
def test_cosine_to_query_bit_identical_to_composed_hofs(spark, norm_col):
    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    rows.append((40, [-0.0, 5e-324, 1e308, -1e308, 1.0, 2.0, 3.0, 4.0]))
    df = spark.createDataFrame(rows, ["i", "vector"]).withColumn(
        "norm", l2_norm(F.col("vector"))
    )
    inf, nan = float("inf"), float("nan")
    queries = [[float(x) for x in rng.normal(size=8)] for _ in range(5)] + [
        [0.0] * 8,
        [-0.0] * 8,
        [-0.0] + [1.0] * 7,
        [5e-324] * 8,
        [5e-324] + [0.5] * 7,
        [1e308] + [1.0] * 7,
        [nan] + [1.0] * 7,
        [inf] + [1.0] * 7,
        [-inf] + [1.0] * 7,
    ]
    for q in queries:
        out = (
            df.select(
                "i",
                cosine_to_query("vector", q, norm_col).alias("got"),
                _composed_cosine("vector", q, norm_col).alias("want"),
            )
            .orderBy("i")
            .collect()
        )
        assert [_bits(r.got) for r in out] == [_bits(r.want) for r in out], q


def test_vector_literal(spark):
    """Every double survives the parsed literal bit for bit (NaN as NaN)."""
    rng = np.random.default_rng(3)
    vals = [
        1.5, -2.5, 0.0, -0.0, 0.1, 1.0 / 3.0, 5e-324, -5e-324,
        2.2250738585072014e-308, 1e308, -1.7976931348623157e308,
        float("nan"), float("inf"), float("-inf"),
    ]
    vals += [float(x) for x in rng.normal(size=50)]
    # arbitrary bit patterns: subnormals, huge exponents, every sign
    vals += [float(x) for x in np.frombuffer(rng.bytes(8 * 200), dtype="<f8")]
    [row] = spark.range(1).select(vector_literal(vals).alias("v")).collect()
    assert [_bits(x) for x in row.v] == [_bits(x) for x in vals]


def test_float_input_cast(spark):
    """Fixture embeddings are FLOAT[]; math must promote to double."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("v", T.ArrayType(T.FloatType()), False)]
    )
    df = spark.createDataFrame([([0.1, 0.2, 0.3],)], schema)
    got = df.select(l2_norm(F.col("v")).alias("n")).collect()[0].n
    # float32-stored values, double math
    expect = math.sqrt(sum(float(np.float32(x)) ** 2 for x in [0.1, 0.2, 0.3]))
    assert got == pytest.approx(expect, rel=1e-9)


def test_project_expr_matches_numpy(spark):
    import numpy as np

    from vectra_py_spark.functions.vector import project_expr
    from vectra_py_spark.operators.similarity import seeded_hyperplanes

    vec = [float(i) / 7.0 for i in range(16)]
    planes = seeded_hyperplanes(16, 4)
    df = spark.createDataFrame([(1, vec)], ["vec_id", "embedding"])
    [row] = df.select(project_expr(planes, "embedding").alias("p")).collect()
    want = np.round(np.array(planes) @ np.array(vec), 6)
    assert row.p == [float(x) for x in want]


def test_project_expr_is_shuffle_free(spark):
    from vectra_py_spark.functions.vector import project_expr
    from vectra_py_spark.operators.similarity import seeded_hyperplanes

    df = spark.createDataFrame([(1, [1.0] * 8)], ["vec_id", "embedding"])
    plan = (
        df.select(project_expr(seeded_hyperplanes(8, 2), "embedding"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
