"""Vectorized UDFs + skew tooling unit tests."""

from concept_catalog_etl_spark.functions.vectorized import arr_len
from concept_catalog_etl_spark.operators.skew import (
    hot_key_histogram,
    salted_join,
)


def test_arr_len(spark):
    df = spark.createDataFrame(
        [([1, 2],), ([],), (None,)], "tokens array<int>"
    )
    got = [r["n"] for r in df.select(arr_len("tokens").alias("n")).collect()]
    assert got == [2, 0, None]


def test_no_row_at_a_time_python_udfs_in_plan(spark):
    """A pandas UDF runs as ArrowEvalPython (vectorized), never
    BatchEvalPython (per-row pickling)."""
    df = spark.createDataFrame([([1],)], "tokens array<int>")
    plan = (
        df.select(arr_len("tokens").alias("n"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_hot_key_histogram(spark):
    df = spark.createDataFrame(
        [("hot", i) for i in range(50)] + [("cold", 1)], "k string, v int"
    )
    hot = hot_key_histogram(df, "k", min_count=10).collect()
    assert [r["k"] for r in hot] == ["hot"]


def test_salted_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        [("k%d" % (i % 3), i) for i in range(300)], "k string, v int"
    )
    small = spark.createDataFrame([("k0", "a"), ("k1", "b")], "k string, tag string")
    plain = big.join(small, "k").groupBy("k", "tag").count()
    salted = salted_join(big, small, "k").groupBy("k", "tag").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
