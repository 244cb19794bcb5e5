"""Spark-side helpers of the query contract (entry_queries) against their
DuckDB oracle counterparts."""

import math

import duckdb

from sentometrics_spark.entry_queries import _r6

# NaN, +-inf, NULL, an exact .5e-6 tie and an ordinary value
EDGE_SQL = [
    "'nan'::DOUBLE", "'inf'::DOUBLE", "'-inf'::DOUBLE", "NULL",
    "0.0000125::DOUBLE", "-2.718281828::DOUBLE",
]
EDGE_PY = [float("nan"), float("inf"), float("-inf"), None, 0.0000125, -2.718281828]


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b


def test_r6_matches_oracle_rounding_on_edge_values(spark):
    """_r6 must round exactly like the oracle SQL's
    floor(x * 1000000 + 0.5 + 1e-9) / 1000000.0 on the values where Spark
    and DuckDB floor() disagree (Spark's floor returns BIGINT)."""
    df = spark.createDataFrame(list(enumerate(EDGE_PY)), "i int, x double")
    got = [r["x"] for r in df.select("i", _r6("x").alias("x")).orderBy("i").collect()]
    values = ", ".join(f"({i}, {v})" for i, v in enumerate(EDGE_SQL))
    want = [
        r[0]
        for r in duckdb.sql(
            f"SELECT floor(x * 1000000 + 0.5 + 1e-9) / 1000000.0 "
            f"FROM (VALUES {values}) AS t(i, x) ORDER BY i"
        ).fetchall()
    ]
    assert len(got) == len(want) == len(EDGE_PY)
    assert all(_same(g, w) for g, w in zip(got, want)), (got, want)
